"""Region-prediction text classifier — SURVEY §2.11 ML.

Reference: sklearn ``TfidfVectorizer(ngram_range=(1,2), min_df=2)`` +
``RandomForestClassifier(n_estimators=100)`` with an 80/20 split and
accuracy report, then a per-row predict+commit loop over the DB
(``/root/reference/ml_region_prediction.py:44-98,142-152``).

Spark-first: one ``pyspark.ml`` Pipeline — RegexTokenizer →
(unigram CountVectorizer ∥ bigram NGram→CountVectorizer) →
VectorAssembler → IDF → RandomForestClassifier — trained once,
inference as a single distributed ``model.transform`` (no N+1 loop),
artifacts via ``PipelineModel.save/load`` (S19) instead of pickle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_region_pipeline(
    text_col: str = "location",
    label_col: str = "region",
    num_trees: int = 100,
    min_df: float = 2.0,
    seed: int = 42,
):
    """The uni+bigram TF-IDF + random-forest pipeline (mirrors the
    reference's vectorizer settings; labels indexed and mapped back
    to strings on output)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        CountVectorizer,
        IDF,
        IndexToString,
        NGram,
        RegexTokenizer,
        StringIndexer,
        VectorAssembler,
    )
    from pyspark.ml.classification import RandomForestClassifier

    tokenizer = RegexTokenizer(
        inputCol=text_col, outputCol="__tokens", pattern=r"\W+", toLowercase=True
    )
    uni_cv = CountVectorizer(inputCol="__tokens", outputCol="__uni", minDF=min_df)
    bigram = NGram(n=2, inputCol="__tokens", outputCol="__bigrams")
    bi_cv = CountVectorizer(inputCol="__bigrams", outputCol="__bi", minDF=min_df)
    assembler = VectorAssembler(inputCols=["__uni", "__bi"], outputCol="__tf")
    idf = IDF(inputCol="__tf", outputCol="features")
    indexer = StringIndexer(
        inputCol=label_col, outputCol="label", handleInvalid="keep"
    )
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="label", numTrees=num_trees, seed=seed
    )
    restore = IndexToString(
        inputCol="prediction", outputCol="predicted_region", labels=[]
    )
    # IndexToString labels are filled from the fitted StringIndexer at
    # train time (see train_region_model).
    return Pipeline(
        stages=[tokenizer, uni_cv, bigram, bi_cv, assembler, idf, indexer, rf, restore]
    )


def train_region_model(
    train_df: DataFrame,
    text_col: str = "location",
    label_col: str = "region",
    num_trees: int = 100,
    seed: int = 42,
):
    """Fit the pipeline; wires the fitted label vocabulary into the
    IndexToString stage so transform() emits string regions."""
    pipeline = build_region_pipeline(text_col, label_col, num_trees=num_trees, seed=seed)
    model = pipeline.fit(train_df)
    indexer_model = model.stages[6]
    model.stages[8].setLabels(indexer_model.labels)
    return model


def predict_regions(model, df: DataFrame, text_col: str = "location") -> DataFrame:
    """Batch inference: one distributed transform over rows with a
    location (ref filters location IS NOT NULL then predicts per row
    with a commit each — ml_region_prediction.py:142-152)."""
    return (
        model.transform(df.filter(F.col(text_col).isNotNull()))
        .drop("__tokens", "__uni", "__bigrams", "__bi", "__tf", "features", "rawPrediction", "probability")
    )
