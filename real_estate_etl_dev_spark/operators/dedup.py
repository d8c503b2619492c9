"""Document deduplication operators — the LLM-data-pipeline component
set (driver north star; VERDICT r01 item 4).

Four tiers, each with a distinct scale posture:

* ``exact``   — content-hash equi-join.  The ONLY scale-safe exact
  key is a hash of the content itself: grouping by ``xxhash64(text)``
  shuffles each duplicate class to one reducer, no quadratic bucket
  blowup (the r01 ``(n_chars, lang)`` key grew pairs 94× for 10×
  rows; a content hash grows them linearly).
* ``minhash`` — Jaccard near-dup via hand-rolled MinHash banding:
  shingle → k seeded-xxhash64 min-signatures → per-band equality join
  → exact Jaccard verify.  Candidate pairs are generated by equality
  on bucket keys, so the join is linear in bucket occupancy, not
  |docs|² — and every stage is whole-stage-codegen column expressions
  (pyspark.ml's MinHashLSH.approxSimilarityJoin pays a sparse-vector
  transform plus a Scala-closure distance UDF; measured ~9× slower on
  the same corpus).
* ``simhash`` — 64-bit sign-random-projection over token hashes,
  banded into 4×16-bit keys; hamming-close pairs share a band with
  high probability.  Pure column expressions (xxhash64 + aggregate).
* ``ngram``   — exact n-gram Jaccard for candidate *verification*
  (run it after a bucketing stage, never all-pairs).

Reference parity note: the reference's dup detection is a 6-field
equality probe per insert (reid/pipelines/property.py:128-178),
covered by J4/J5 in catalog.py.  These operators are the additive
scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def content_hash(text: Column | str, bits128: bool = False) -> Column:
    """Scale-safe exact-dup key.  xxhash64 is fastest (JVM codegen);
    md5 when a cross-engine-checkable key is needed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c.cast("binary")) if bits128 else F.xxhash64(c)


def dedup_exact_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate classes: one row per content hash with >1 member —
    (h = md5 of the text, n_dups, keeper = min id, dup_ids = the sorted
    ids joined with ','; DuckDB's ``string_agg(id, ',' ORDER BY id)``).
    One shuffle on the hash."""
    return (
        docs.select(F.col(id_col), content_hash(text_col, bits128=True).alias("h"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min(id_col).alias("keeper"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(id_col)),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact_keep_first(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deduplicated corpus: keep the lowest id per content hash.
    Window-rank over the hash — one shuffle, no join back."""
    from pyspark.sql import Window

    w = Window.partitionBy(content_hash(text_col)).orderBy(F.col(id_col))
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def flag_corpus_dups(
    incoming: DataFrame, corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental (cross-batch) exact dedup: mark each incoming doc
    whose content already exists in the cleaned corpus.

    The training-pipeline shape: each new crawl batch dedups against
    the accumulated corpus WITHOUT re-deduping the corpus itself.
    Returns ``incoming`` + boolean ``in_corpus``.

    Scale: the corpus is projected to DISTINCT content hashes before
    the join — one narrow column shuffled on the hash key, so the join
    state is |unique texts| not |corpus rows|; AQE broadcasts it while
    it fits and falls back to a hash-partitioned join when it doesn't.
    A persisted corpus would pre-bucket by this hash to skip the
    exchange entirely (see operators/layout.py bucketed-join posture).
    """
    hashes = corpus.select(
        content_hash(text_col, bits128=True).alias("__corpus_h")
    ).distinct()
    return incoming.withColumn(
        "__h", content_hash(text_col, bits128=True)
    ).join(
        hashes, F.col("__h") == F.col("__corpus_h"), "left"
    ).withColumn(
        "in_corpus", F.col("__corpus_h").isNotNull()
    ).drop("__h", "__corpus_h")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), JVM-side.

    Shape note: one indexed ``transform`` with O(1) ``F.get`` lookups
    per neighbor — not a per-index ``slice``+``array_join``, which is
    O(tokens) per shingle (O(tokens²) per doc; measured ~4× slower on
    the documents corpus).  ``concat_ws`` skips the NULLs ``F.get``
    yields past the end, so tail shingles shorten exactly like the
    slice formulation; the keep-window trims to size-n+1 shingles
    (min 1, so a shorter-than-n doc still yields its full join)."""
    from ..functions.core import let_

    c = F.col(text) if isinstance(text, str) else text

    def build(toks: Column) -> Column:
        grams = F.transform(
            toks,
            lambda x, i: F.concat_ws(
                " ", x, *[F.get(toks, i + j) for j in range(1, n)]
            ),
        )
        keep = F.greatest(F.size(toks) - n + 1, F.lit(1))
        return F.array_distinct(F.slice(grams, 1, keep))

    return let_(F.split(F.lower(c), r"\s+"), build)


def _bucket_pairs(items: Column) -> Column:
    """Expand a sorted bucket-member array into ordered (a, b) struct
    pairs JVM-side — B²/2 structs for a B-element bucket, so callers
    MUST cap bucket size first.  Replaces the window-count + self-join
    + dropDuplicates formulation (one groupBy shuffle, no sort, no
    2-sided join exchange)."""
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def minhash_signature(
    shingle_arr: Column, num_hashes: int = 5, seed: int = 42
) -> Column:
    """k-permutation MinHash signature as an array<long>: hash i is
    ``min over shingles of xxhash64(shingle, seed+i)``.  Pure column
    expressions — one map-side pass, no model fit."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingle_arr, lambda s: F.xxhash64(s, F.lit(seed + i)))
            )
            for i in range(num_hashes)
        ]
    )


def _shingled(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, __sh shingle-array) for docs with at least one shingle."""
    return docs.select(
        F.col(id_col), shingles(text_col, shingle_n).alias("__sh")
    ).filter(F.size("__sh") > 0)


def _minhash_banded(
    base: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    """(id, band_idx, band_val) — one row per doc per band; the
    equality-shuffle key of the MinHash candidate join."""
    sigs = base.select(
        id_col, minhash_signature(F.col("__sh"), num_hashes, seed).alias("__sig")
    )
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.element_at(F.col("__sig"), i + 1).alias("band_val"),
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band_idx"), F.col("bk.band_val"))


def _bucket_audit(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Per-band histogram audit of an LSH banding: what the
    ``max_bucket`` quadratic-blowup guard would skip.

    The pair operators' docstrings promise the cap is never silent —
    this is the observable: per band, rows banded, buckets/rows over
    the cap, and the candidate-pair mass (Σ B·(B−1)/2) dropped.  Run
    it alongside any capped dedup pass; nonzero ``pairs_skipped``
    means the recall the cap costs is concentrated here."""
    occ = banded.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("__n")
    )
    over = F.col("__n") > max_bucket
    pair_mass = (F.col("__n") * (F.col("__n") - 1) / 2).cast("long")
    return (
        occ.groupBy("band_idx")
        .agg(
            F.sum("__n").cast("long").alias("rows_banded"),
            F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_skipped_buckets"),
            F.sum(F.when(over, F.col("__n")).otherwise(0)).cast("long").alias("rows_in_skipped"),
            F.sum(F.when(over, pair_mass).otherwise(0)).cast("long").alias("pairs_skipped"),
        )
        .orderBy("band_idx")
    )


def _simhash_banded(
    docs: DataFrame, text_col: str, id_col: str, n_bands: int
) -> DataFrame:
    """(id, band_idx, band_val) — the simhash analog of
    :func:`_minhash_banded` (fingerprint band slices instead of
    signature elements)."""
    sims = simhash_frame(docs, text_col, id_col)
    return sims.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_idx"), b.alias("band_val"))
                    for i, b in enumerate(simhash_bands(F.col("sim"), n_bands))
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band_idx"), F.col("bk.band_val"))


def fused_bucket_audit(parts: list) -> DataFrame:
    """Audit several bandings in ONE job: ``parts`` holds
    ``(algo, banded, max_bucket)`` triples where ``banded`` is an
    (id, band_idx, band_val) frame (:func:`_minhash_banded` /
    :func:`_simhash_banded`).

    Scale: per-algo audits each pay their own wide
    (band_idx, band_val) occupancy shuffle; tagging and unioning the
    banded frames FIRST feeds every banding through a single
    (algo, band_idx, band_val) exchange — for the two-algo audit,
    half the wide exchanges/stages, same bytes moved.  Measured at
    sf0.1 that is a wash on wall-clock (map-side fingerprinting
    dominates; both shapes ~1.8s warm) — the value is fewer stage
    barriers for the scheduler at cluster scale, not local speed.
    Each algo keeps its own skip threshold: the cap rides along as a
    constant column into the occupancy key."""
    from functools import reduce

    tagged = [
        banded.select(
            F.lit(algo).alias("algo"),
            F.col("band_idx"),
            F.col("band_val").cast("long").alias("band_val"),
            F.lit(int(cap)).alias("__cap"),
        )
        for algo, banded, cap in parts
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    occ = u.groupBy("algo", "band_idx", "band_val", "__cap").agg(
        F.count(F.lit(1)).alias("__n")
    )
    over = F.col("__n") > F.col("__cap")
    pair_mass = (F.col("__n") * (F.col("__n") - 1) / 2).cast("long")
    return (
        occ.groupBy("algo", "band_idx")
        .agg(
            F.sum("__n").cast("long").alias("rows_banded"),
            F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_skipped_buckets"),
            F.sum(F.when(over, F.col("__n")).otherwise(0)).cast("long").alias("rows_in_skipped"),
            F.sum(F.when(over, pair_mass).otherwise(0)).cast("long").alias("pairs_skipped"),
        )
        .orderBy("algo", "band_idx")
    )


def combined_bucket_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 5,
    shingle_n: int = 2,
    seed: int = 42,
    minhash_max_bucket: int = 500,
    n_bands: int = 4,
    simhash_max_bucket: int = 200,
) -> DataFrame:
    """MinHash + SimHash cap audit fused into one job (see
    :func:`fused_bucket_audit`): ``algo`` ∈ {'minhash','simhash'}
    ahead of :func:`_bucket_audit`'s per-band columns, identical row
    content to running the two per-algo audits separately."""
    mh = _minhash_banded(
        _shingled(docs, text_col, id_col, shingle_n), id_col, num_hashes, seed
    )
    sh = _simhash_banded(docs, text_col, id_col, n_bands)
    return fused_bucket_audit(
        [("minhash", mh, minhash_max_bucket), ("simhash", sh, simhash_max_bucket)]
    )


def dedup_minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 5,
    shingle_n: int = 2,
    seed: int = 42,
    max_bucket: int = 500,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard distance ≤ threshold,
    candidates via MinHash banding (SURVEY §7.2 step 10).

    Same OR-amplification semantics as pyspark.ml MinHashLSH with
    ``numHashTables=num_hashes`` (each band is one minhash value;
    P[candidate] = 1-(1-s)^k), but entirely in whole-stage codegen:

    * signature — map-only seeded-xxhash64 min-aggregates,
    * candidates — ONE equality shuffle on the exploded
      (band_idx, band_value) key; buckets larger than ``max_bucket``
      are skipped (quadratic-blowup guard; a skipped bucket's members
      still pair via their other bands),
    * verify — exact shingle-set Jaccard via array_intersect on the
      deduplicated candidate pairs only.

    Work is Σ bucket² over occupied buckets — linear for natural
    corpora — instead of |docs|²."""
    from ..functions.core import let_

    # Persist the shingled corpus: it feeds the signature pass AND both
    # sides of the verify join (the r01 MinHashLSH path persisted its
    # hashed frame for the same reason).  At cluster scale this is the
    # stage you'd checkpoint.
    base = _shingled(docs, text_col, id_col, shingle_n).persist()
    banded = _minhash_banded(base, id_col, num_hashes, seed)

    # ONE shuffle: group each (band, value) bucket, expand its sorted
    # id list to ordered pairs JVM-side (B ≤ max_bucket bounds the
    # B²/2 work per bucket).
    cand = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids").between(2, max_bucket))
        .select(F.explode(let_(F.col("__ids"), _bucket_pairs)).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    av = base.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha"))
    bv = base.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.lit(1.0) - ngram_jaccard(F.col("__sha"), F.col("__shb")), 6
            ).alias("jaccard_dist"),
        )
        .filter(F.col("jaccard_dist") <= threshold)
    )


def minhash_corpus_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 5,
    shingle_n: int = 2,
    seed: int = 42,
) -> DataFrame:
    """The persistable LSH state of a cleaned corpus: one
    (id, band_idx, band_val) row per doc per band.

    This is what a continuous-crawl pipeline stores INSTEAD of corpus
    text for near-dup screening: ``num_hashes`` longs per document —
    at 1B docs × 5 bands ≈ 120 GB of narrow rows vs re-shingling
    100 TB of text every batch.  Persist it bucketed on
    ``(band_idx, band_val)`` (operators/layout.py) and the per-batch
    candidate join needs no corpus-side exchange at all; append each
    accepted batch's own index rows to keep it current."""
    base = _shingled(corpus, text_col, id_col, shingle_n)
    return _minhash_banded(base, id_col, num_hashes, seed)


def flag_incremental_minhash(
    incoming: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 5,
    shingle_n: int = 2,
    seed: int = 42,
    min_sig_agree: float = 0.5,
    max_bucket: int = 500,
) -> DataFrame:
    """Incremental (cross-batch) NEAR-dup detection: screen a new
    batch against a persisted corpus LSH index
    (:func:`minhash_corpus_index`) WITHOUT re-shingling the corpus —
    the production shape for continuous crawls, and the MinHash analog
    of :func:`flag_corpus_dups` (VERDICT r04 item 5).

    Because each band key IS one minhash signature component here
    (r=1 banding, same as :func:`dedup_minhash_pairs`), the number of
    matching bands for a candidate pair equals its signature
    agreement, whose expectation is the pair's Jaccard similarity —
    so the verify stage needs NO text from the corpus side: a pair is
    flagged when ``n_band_matches / num_hashes >= min_sig_agree``.
    Planted exact re-crawls agree on every band (est 1.0) by
    construction, which is what the certification oracle pins.

    Scale: the incoming batch is shingled/banded map-side (its own
    text, one pass); hot corpus buckets above ``max_bucket`` are
    dropped from the probe (same quadratic-blowup guard + audit
    posture as the pair operators — a skipped bucket's docs still
    match via their other bands); the candidate join shuffles on
    (band_idx, band_val) — or nothing at all when the index is
    bucketed on that key — and the (incoming, corpus) match count is
    one further narrow shuffle bounded by candidate pairs, not
    |corpus|.

    Returns one row per flagged pair: (``id_col``, matched_id,
    n_band_matches, est_jaccard)."""
    inc_banded = _minhash_banded(
        _shingled(incoming, text_col, id_col, shingle_n),
        id_col, num_hashes, seed,
    ).withColumnRenamed(id_col, "__inc_id")

    occ = Window.partitionBy("band_idx", "band_val")
    probe = (
        corpus_index.withColumn("__occ", F.count(F.lit(1)).over(occ))
        .filter(F.col("__occ") <= max_bucket)
        .drop("__occ")
        .withColumnRenamed(id_col, "__corpus_id")
    )

    # rational ceil, not math.ceil(float*int): the double product can
    # land one ulp above the true integer (ceil(0.55*100) = 56) and
    # silently demand one extra band agreement — same hazard class as
    # the setsim bounds (_ceil_frac below)
    _n, _d = _frac(min_sig_agree)
    min_matches = max(1, (_n * num_hashes + _d - 1) // _d)
    return (
        inc_banded.join(probe, ["band_idx", "band_val"])
        .groupBy("__inc_id", "__corpus_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band_matches"))
        .filter(F.col("n_band_matches") >= min_matches)
        .select(
            F.col("__inc_id").alias(id_col),
            F.col("__corpus_id").alias("matched_id"),
            "n_band_matches",
            F.round(
                F.col("n_band_matches") / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )


def _bit_mask(i: int) -> int:
    # bit 63 as a SIGNED 64-bit literal (1 << 63 overflows LongType)
    return (1 << i) if i < 63 else -(1 << 63)


def simhash_bands(sim: Column, n_bands: int = 4) -> list[Column]:
    """Split a 64-bit simhash into band keys for bucketed candidate
    generation (hamming-distance ≤ k pairs collide on ≥1 band w.h.p.)."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return [
        F.shiftrightunsigned(sim, i * width).bitwiseAND(F.lit(mask)).alias(f"band{i}")
        for i in range(n_bands)
    ]


def simhash_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim): the 64-bit SimHash of each doc — per token xxhash64,
    each bit votes ±1, the sign of the vote is the fingerprint bit.
    Explode + 64 codegen'd sum aggregates, so the hot loop runs in
    whole-stage codegen instead of interpreted higher-order functions
    (~10× on wide corpora); one shuffle on the id."""
    ex = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok"),
    )
    h = F.xxhash64("__tok")
    aggs = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(_bit_mask(i))) != 0, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(64)
    ]
    votes = ex.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"__b{i}") >= 0, F.lit(_bit_mask(i)))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return votes.select(id_col, sim.alias("sim"))


def dedup_simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    n_bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate pairs whose simhashes agree on ≥1 of n_bands band
    keys, verified by exact hamming distance ≤ max_hamming.

    Scale: ONE groupBy shuffle on the exploded (band_idx, band_value)
    key; each bucket's members — (id, sim) structs, so no join-back is
    needed for the hamming verify — expand to ordered pairs JVM-side.
    Buckets larger than ``max_bucket`` are skipped — the standard
    guard against pathological clustering (a bucket of B rows yields
    B²/2 candidate pairs; for near-identical corpora that's the whole
    corpus²).  Skipped-bucket members still pair via their other,
    lighter bands.

    Band-width at the billion-doc regime (VERDICT r02): the default
    4×16-bit bands give only 2^16 = 65,536 key values per band, so
    expected occupancy is |docs|/65k — at 1B docs that's ~15k rows
    per bucket, far over ``max_bucket``, and EVERY bucket gets
    skipped: recall silently collapses.  The cap trades recall for
    bounded work, and the loss concentrates on the docs in hot
    buckets (they only pair via their rarer bands).  Mitigations, in
    order: widen bands (``n_bands=2`` → 32-bit keys, 4B values —
    occupancy back to ~0.25 at 1B docs, at the cost of requiring a
    32-bit exact prefix match, i.e. recall only for hamming distance
    concentrated in the other half); or move to a 128-bit fingerprint
    (two 64-bit simhash passes over disjoint token hash seeds) to keep 4
    bands at 32 bits each; or raise ``max_bucket`` with budgeted
    Σ bucket² monitoring.  When buckets ARE skipped, log the dropped
    mass — a silent cap reads as full recall when it isn't."""
    from ..functions.core import let_

    sims = simhash_frame(docs, text_col, id_col)
    member = F.struct(F.col(id_col), F.col("sim"))
    banded = sims.select(
        member.alias("__m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        b.alias("band_val"),
                    )
                    for i, b in enumerate(simhash_bands(F.col("sim"), n_bands))
                ]
            )
        ).alias("bk"),
    ).select("__m", F.col("bk.band_idx"), F.col("bk.band_val"))
    pairs = (
        banded.groupBy("band_idx", "band_val")
        # array_sort on structs orders by the first field = the id,
        # so pair expansion yields id_a < id_b directly
        .agg(F.array_sort(F.collect_list("__m")).alias("__ms"))
        .filter(F.size("__ms").between(2, max_bucket))
        .select(F.explode(let_(F.col("__ms"), _bucket_pairs)).alias("p"))
        .select(
            F.col(f"p.a.{id_col}").alias("id_a"),
            F.col(f"p.b.{id_col}").alias("id_b"),
            F.col("p.a.sim").alias("sim_a"),
            F.col("p.b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select(
        "id_a", "id_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard(
    a_tokens: Column, b_tokens: Column
) -> Column:
    """Exact token-set Jaccard similarity between two token arrays."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = F.size(F.array_union(a_tokens, b_tokens)).cast("double")
    return F.when(union > 0, F.round(inter / union, 6)).otherwise(F.lit(0.0))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """Duplicate-CLUSTER assignment: collapse a near-dup pair graph
    (output of the minhash/simhash/embedding stages) into connected
    components, labeling every node with the minimum node id reachable
    through pair edges.  Pairwise dedup alone over-keeps: if A~B and
    B~C but A!~C, keep-one-per-PAIR retains two of {A,B,C}; the
    component view keeps exactly one canonical doc per cluster.

    Min-label propagation: labels start as the node id itself; each
    round every node adopts the smallest label in its closed
    neighborhood; stop when a round changes no label.  Rounds needed =
    graph diameter, and near-dup graphs are short-chained (a dup
    cluster is a handful of crawl variants, not a long path), so this
    terminates in a few rounds at any corpus size.

    Scale posture per round: ONE shuffle (edge-to-label hash join on
    the node id) + ONE min-aggregate — both AQE-sized.  Labels are
    localCheckpoint-ed each round to truncate the iterative lineage
    (at cluster scale, point ``spark.sparkContext.setCheckpointDir``
    at durable storage and swap to ``checkpoint()``); convergence is
    detected by a changed-label COUNT carried in-row and summed — a
    single scalar per round, no driver-side row data ever.  (A label
    SUM would be the classic probe, but it overflows LongType the
    moment node ids are 64-bit snowflakes; the count is bounded by
    |nodes|.)  This is the
    DataFrame form of the map-reduce CC algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Returns ``(node, comp)`` — one row per distinct node in ``edges``.
    """
    # Undirected closed neighborhood: each edge contributes both
    # directions; the self-loop keeps a node's own label in the min.
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
    rev = edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    # Checkpoint the adjacency ONCE: every round joins against it, and
    # an expensive upstream (e.g. a cosine pair stage) must not be
    # re-executed per round.  Lazy — materializes with round 1's probe.
    adj = fwd.unionByName(rev).localCheckpoint(eager=False)
    labels = (
        adj.select("node")
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)
    )
    for it in range(max_iters):
        lbl = labels.select(
            F.col("node").alias("__lnode"), F.col("comp").alias("__lcomp")
        )
        nbr_min = (
            adj.join(lbl, F.col("nbr") == F.col("__lnode"), "inner")
            .select("node", F.col("__lcomp").alias("__lcomp"))
            .groupBy("node")
            .agg(F.min("__lcomp").alias("nbr_comp"))
        )
        staged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias(
                    "comp"
                ),
                # convergence flag carried in-row: labels only decrease,
                # so any strict decrease == not yet a fixpoint.  A
                # CHANGED COUNT (bounded by |nodes|) is the probe — not
                # a label SUM, which overflows LongType the moment ids
                # are 64-bit snowflakes (ANSI mode would throw).
                (F.coalesce("nbr_comp", "comp") < F.col("comp"))
                .cast("long")
                .alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        labels = staged.drop("__changed")
        # Probe convergence every SECOND round (r14, guide §5 driver
        # round-trips): each probe is a full driver job, and min-label
        # propagation PAST the fixpoint is idempotent, so skipping the
        # odd-round probe cannot change any label — at worst one extra
        # (no-op) propagation join runs inside the next probe's job.
        # The skipped round's lazy checkpoint still materializes (and
        # truncates lineage) as part of that same job.  Labels are
        # identical round-for-round; only the job count halves.
        if it % 2 == 0 and it + 1 < max_iters:
            continue
        # lazy checkpoint: this count is the probe round's ONE action —
        # it materializes the checkpoint AND probes convergence.
        n_changed = staged.agg(F.sum("__changed")).collect()[0][0]
        if not n_changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "the pair graph has a longer chain than any dup cluster should; "
        "inspect the candidate-pair stage's thresholds"
    )


def _frac(threshold: float) -> tuple[int, int]:
    """The ONE place a threshold becomes an exact fraction (num, den)
    — every rational bound (prefix length, both length filters, the
    positional α) must share this parsing, or the completeness proof
    that depends on all bounds using the same exact t silently
    splits.

    The denominator guard below enforces ``_ceil_frac``'s exactness
    precondition (num·c far below 2^53) LOUDLY: a programmatic
    non-decimal threshold like ``1/3`` stringifies to 17 significant
    digits and would yield a ~1e16 denominator that silently voids
    the <2^53 argument (ADVICE r07).  Thresholds are short decimal
    literals by contract; anything else must fail here, not corrupt
    bounds downstream."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    if fr.denominator > 10**6:
        raise ValueError(
            f"threshold {threshold!r} is not a short decimal literal "
            f"(denominator {fr.denominator} > 1e6): exact rational "
            "bounds require num*set_size < 2^53 — pass e.g. 0.97, "
            "not a float expression like 1/3"
        )
    return fr.numerator, fr.denominator


def _ceil_frac(c: Column, threshold: float) -> Column:
    """Exact ``ceil(threshold * c)`` for an integer column ``c``,
    computed in RATIONAL arithmetic: the threshold's decimal literal
    becomes an exact fraction num/den and the ceil is the integer
    ceil-division ``(num*c + den - 1) div den``.  The naive
    ``F.ceil(F.lit(t) * c)`` is wrong whenever the double product
    lands one ulp above the true integer — e.g. ceil(0.55*100) = 56
    in doubles (0.55·100 rounds to 55.000000000000007), against the
    true 55 — which silently shortens a prefix / over-tightens a
    length bound and breaks the recall-completeness guarantee (ADVICE
    r06; divergence pinned by
    ``tests/test_llmdata.py::test_setsim_rational_bounds``).  The
    division below is exact: num*c + den - 1 is an integer < 2^53,
    and IEEE division of exactly-representable integers whose
    quotient is an integer is exact, so floor() sees no ulp noise.
    Assumes the threshold is a SHORT decimal literal (e.g. 0.97 →
    97/100) so num·c stays far below 2^53 — a float like 1/3 would
    stringify to 16 digits and push the product past exactness."""
    num, den = _frac(threshold)
    return F.floor((F.lit(num) * c + F.lit(den - 1)) / F.lit(den)).cast("long")


def _setsim_prefixes(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    spread: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared prefix expansion for the PPJoin family: returns
    ``(ranked, prefixes)`` where ranked = (id, s, by_rank) with the
    GLOBAL rarest-first token order and prefixes = (id, m, ptok) —
    one row per (doc, prefix token) with prefix length
    ``|s| - ceil(t*|s|) + 1`` computed in exact rational arithmetic
    (``_ceil_frac``)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))).alias("s"),
    ).filter(F.size("s") > 0)

    freq = (
        toks.select(F.explode("s").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # the global rarest-first order needs no rank column (and so no
    # global window): (df, tok) IS the order — struct array_sort
    # sorts lexicographically by field, ties broken by the token
    # string, fully deterministic
    # ranked feeds FOUR consumers in the join (both prefix sides, both
    # verify sides) — without pinning, the explode+broadcast-join+
    # collect_list aggregation re-runs per consumer (~4× the dominant
    # constant; measured ~5s of the sf0.1 query).  localCheckpoint
    # materializes it once and truncates lineage, the ngram/kmeans
    # pattern.
    ranked = (
        toks.select("id", "s", F.explode("s").alias("tok"))
        .join(F.broadcast(freq), "tok")
        .groupBy("id")
        .agg(
            F.first("s").alias("s"),
            F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("by_rank"),
        )
        .localCheckpoint(eager=spread)
    )
    # fan_out + re-checkpoint (r14, ``spread=True`` — the PURE prefix
    # join only): with its candidate dedup moved past the verify (see
    # _ppjoin_candidates), the prefix join, set attach, and exact-
    # Jaccard verify all run MAP-SIDE on these very partitions — and
    # the checkpoint freezes AQE's byte-coalesced single partition at
    # fixture sizes.  The spread is MATERIALIZED (a second checkpoint
    # of the tiny frame) so every consumer reads stored parallel
    # partitions instead of re-running a repartition exchange.
    # Conditional twice over — a corpus-sized ranked checkpoints with
    # ≥ cores partitions and skips both steps, and the HYBRID/audit
    # callers (whose pre-verify dedup exchange already re-spreads,
    # and whose many small routing taps priced the extra
    # materialization at a measured +0.7s) keep ``spread=False`` with
    # the original lazy checkpoint.
    if spread:
        from ..sources.readers import fan_out

        wide = fan_out(ranked)
        if wide is not ranked:
            ranked = wide.localCheckpoint(eager=True)
    prefix_len = (
        F.size("s") - _ceil_frac(F.size("s"), threshold) + 1
    ).cast("int")
    # candidate rows carry (id, |set|, prefix token) ONLY — never the
    # token array: at corpus scale the candidate shuffle would
    # otherwise ship every pair's two full sets and then deduplicate
    # over them (measured 129s → 13s at sf0.1 for this exact reason;
    # the residual cost is candidate volume itself — this fixture's
    # 40-token vocab makes prefix buckets pathologically dense, where
    # a real corpus vocabulary keeps rare-token buckets tiny; see
    # ``setsim_bucket_audit`` for the occupancy observable).
    prefixes = ranked.select(
        "id",
        F.size("s").alias("m"),
        F.posexplode(
            F.transform(
                F.slice("by_rank", 1, prefix_len), lambda st: st.getField("tok")
            )
        ).alias("pos", "ptok"),
    ).withColumn("pos", F.col("pos") + 1)  # 1-based rank in the global order
    return ranked, prefixes


def setsim_join_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    hash_tokens: bool = True,
) -> DataFrame:
    """EXACT set-similarity self-join by PREFIX FILTERING (the
    SSJoin/PPJoin principle, Bayardo et al., WWW'07): all pairs with
    token-set Jaccard ≥ ``threshold``, with a RECALL-COMPLETENESS
    GUARANTEE — if J(x,y) ≥ t, the first ``|x| - ceil(t·|x|) + 1``
    tokens of x and the analogous prefix of y, both under one GLOBAL
    rarest-first token order, must share a token, so generating
    candidates only from prefix-token equality provably loses nothing.
    The deterministic exact-threshold complement of the MinHash tier
    (probabilistic recall) and the n-gram verify stage (bucketed).
    Prefix length and size bounds use exact RATIONAL arithmetic
    (``_ceil_frac``) — double ceil can over-tighten on exact
    multiples and silently lose qualifying pairs (pinned by
    ``tests/test_llmdata.py::test_setsim_rational_bounds``).

    Plan: one corpus-frequency agg builds the global order (broadcast,
    |vocab| rows); prefixes explode to ~(1-t)·|set| rows per doc — the
    CANDIDATE shuffle is on single tokens, weighted toward RARE ones
    (rare tokens have small buckets, so the equality join fans out
    far less than a naive token join); verification is exact JVM
    array_intersect/array_union on the candidate pairs only.  With
    ``hash_tokens`` (default), the candidate shuffle carries
    ``xxhash64(ptok)`` — an 8-byte key instead of the raw token
    string (implemented, not prose: equality of the pair output
    against the string form is pinned by
    ``tests/test_llmdata.py::test_setsim_hashed_equals_string``).  A
    hash collision can only ADD a candidate (token equality implies
    hash equality), and spurious candidates die in the exact verify —
    completeness survives hashing unconditionally.

    Returns (a, b, jaccard) with a < b, jaccard rounded to 6."""
    ranked, prefixes = _setsim_prefixes(
        docs, id_col, text_col, threshold, spread=True
    )
    cand = _ppjoin_candidates(prefixes, threshold, hash_tokens, dedup=False)
    return _verify_jaccard(cand, ranked, threshold)


def _ppjoin_candidates(
    prefixes: DataFrame,
    threshold: float,
    hash_tokens: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Candidate (a, b) id pairs from the PPJoin prefix-equality
    self-join — the exact-tier candidate generator, shared by
    :func:`setsim_join_prefix` (whole corpus) and
    :func:`setsim_join_hybrid` (cold prefix rows only; routing out
    hot tokens keeps every bound below valid because ``pos`` stays
    the 1-based rank in the ORIGINAL global prefix order)."""
    if hash_tokens:
        prefixes = prefixes.withColumn("ptok", F.xxhash64("ptok"))

    num, den = _frac(threshold)
    # PPJoin POSITIONAL filter (Xiao et al., WWW'08): J ≥ t forces
    # overlap o ≥ α = ceil(t/(1+t)·(|x|+|y|)) = ceil_div(num·(mx+my),
    # num+den) in exact integers.  For the FIRST shared token of a
    # qualifying pair — at 1-based ranks (i, j) in the two docs'
    # rarest-first orders — every other common token sits strictly
    # later in both, so o ≤ 1 + min(mx−i, my−j); that candidate row
    # therefore survives the filter below, which keeps the
    # completeness proof intact while pruning rows whose positional
    # upper bound can't reach α (the non-first matches of true pairs
    # and most spurious hot-token collisions).
    alpha = F.floor(
        (
            F.lit(num) * (F.col("a.m") + F.col("b.m")) + F.lit(num + den - 1)
        )
        / F.lit(num + den)
    ).cast("long")
    ubound = 1 + F.least(
        F.col("a.m") - F.col("a.pos"), F.col("b.m") - F.col("b.pos")
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J ≥ t forces t·|y| ≤ |x| ≤ |y|/t — prune
            # size-incompatible pairs BEFORE anything shuffles
            & (F.col("a.m") >= _ceil_frac(F.col("b.m"), threshold))
            & (F.col("b.m") >= _ceil_frac(F.col("a.m"), threshold))
            & (ubound >= alpha),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
    )
    # r14: ``dedup=False`` (the pure prefix join) skips the candidate
    # dropDuplicates — dedup moves into _verify_jaccard, AFTER the
    # threshold filter (guide §2.3: the exchange then carries the few
    # verified survivors instead of the full candidate mass; measured
    # 770k candidate rows vs 46k survivors on the dense fixture, the
    # query 5.4 → 3.6s).  A pair emitted once per shared prefix token
    # re-verifies ≤ prefix_len times — bounded extra map work on true
    # near-dups only — and every copy computes the identical jaccard,
    # so the post-filter dedup returns the same pair set with the
    # same values.  The HYBRID keeps ``dedup=True``: its candidate
    # stream mixes tiers and recurs across band buckets, where the
    # pre-verify exchange measured strictly faster.
    if dedup:
        cand = cand.dropDuplicates(["a", "b"])
    return cand


def _verify_jaccard(
    cand: DataFrame, ranked: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (a, b) pairs against
    the ranked (id, s) token sets — shared by every setsim tier, so
    precision is exact no matter which candidate generator fed it."""
    sets = ranked.select("id", "s")
    verified = (
        cand.join(sets.select(F.col("id").alias("a"), F.col("s").alias("sa")), "a")
        .join(sets.select(F.col("id").alias("b"), F.col("s").alias("sb")), "b")
    )
    # r14: |union| computed arithmetically — ``s`` is an array_distinct
    # product, so |a ∪ b| = |a| + |b| − |a ∩ b| exactly; the union
    # ARRAY is never built.  The intersection size is bound to a
    # column so filter and projection share ONE evaluation (the
    # previous unbound expression re-ran intersect+union in each).
    # Same integers ⇒ same int/int division ⇒ same double ⇒ same
    # rounded value: bit-identical output.
    verified = verified.withColumn(
        "__i", F.size(F.array_intersect("sa", "sb"))
    ).withColumn(
        "__jac",
        F.col("__i") / (F.size("sa") + F.size("sb") - F.col("__i")),
    )
    jac = F.col("__jac")
    # threshold on the RAW ratio (the oracle does the same); rounding
    # happens only in the projection — filtering on the rounded value
    # would admit pairs within 5e-7 below the threshold.
    #
    # Exactness asymmetry (ADVICE r07, documented not fixed — it is
    # unreachable): the candidate bounds above use the exact decimal t
    # (97/100) while this verify compares jac >= double(t), and for
    # thresholds whose double sits BELOW the decimal (0.97 does) the
    # bounds are infinitesimally tighter than the verify predicate.
    # Completeness w.r.t. double semantics still holds because a
    # rational Jaccard i/u inside [double(t), t) needs the continued-
    # fraction gap of t at ~1e-17 width — |union| on the order of 1e16
    # tokens, far past any real document — mirroring the
    # doc_lm_cross_entropy log2-ulp assumption note.
    return (
        verified.filter(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        # r14: candidate dedup happens HERE, after the threshold cut —
        # duplicate (a, b) candidates (one per shared prefix token /
        # per hot band) carry the identical jaccard, so deduping the
        # verified survivors returns the same pair set while the
        # exchange ships |survivors| rows instead of the raw candidate
        # mass (the generators no longer pre-dedup; see
        # _ppjoin_candidates / setsim_join_hybrid).
        .dropDuplicates(["a", "b"])
        .orderBy("a", "b")
    )


def setsim_bucket_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    top_k: int = 20,
) -> DataFrame:
    """The PPJoin tier's candidate-volume OBSERVABLE (VERDICT r06
    item 2): per-prefix-token bucket occupancy and candidate-pair
    mass for the EXACT prefix expansion ``setsim_join_prefix`` joins
    on.  The prefix filter has no bucket cap — capping would break
    the recall-completeness proof — so at corpus scale a hot token
    (boilerplate, empty-string artifacts) can silently recreate the
    dense-vocabulary blowup this fixture exhibits; this audit makes
    that failure mode measurable, the same role
    ``dedup_bucket_audit`` plays for MinHash bands and
    ``fuzzy_bucket_audit`` for deletion variants.

    One row per hot prefix token (top ``top_k`` by occupancy, ties by
    token): ``ptok``, ``bucket_n`` (docs whose prefix carries the
    token), ``naive_pairs`` (n·(n-1)/2 — the candidate mass the
    equality self-join on this token generates before the length
    filter), plus corpus-constant ``total_prefix_rows`` /
    ``total_naive_pairs`` / ``n_buckets`` so one scan of the output
    answers "how much of the candidate mass is concentrated where".
    The constants ride a 1-row broadcast combine (the
    ``plans/rules_more.py`` scalar-crossJoin pattern), not a window
    over the whole expansion.  Shares ``_setsim_prefixes`` with the
    join itself, so the audit measures the REAL expansion — rational
    prefix bounds included — not a re-implementation that could
    drift."""
    _, prefixes = _setsim_prefixes(docs, id_col, text_col, threshold)
    occ = prefixes.groupBy("ptok").agg(F.count(F.lit(1)).alias("bucket_n"))
    # integer `div`, not `/`: double division is only exact below
    # 2^53 and a 100 TB hot bucket can exceed that product
    occ = occ.select(
        "ptok",
        "bucket_n",
        F.expr("bucket_n * (bucket_n - 1) div 2").alias("naive_pairs"),
    )
    totals = occ.agg(
        F.sum("bucket_n").cast("long").alias("total_prefix_rows"),
        F.sum("naive_pairs").cast("long").alias("total_naive_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    return (
        occ.crossJoin(F.broadcast(totals))
        .orderBy(F.desc("bucket_n"), "ptok")
        .limit(top_k)
    )


def setsim_join_hybrid(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    hot_bucket_cap: int = 32,
    num_hashes: int = 16,
    band_rows: int = 2,
    seed: int = 42,
    minhash_max_bucket: int = 10_000,
    hash_tokens: bool = True,
) -> DataFrame:
    """Scale-governed set-similarity join: EXACT PPJoin for the cold
    token mass, capped set-MinHash banding for the hot mass — the
    executable form of ``setsim_bucket_audit``'s go/no-go (VERDICT
    r07 item 3).  The exact prefix join is recall-complete but its
    candidate mass on a hot prefix token (boilerplate, empty-string
    artifacts) is B²/2 — unboundable without breaking the proof.
    This operator ROUTES instead of capping:

    * occupancy — one count per prefix token (the audit's own
      measure); tokens with bucket_n > ``hot_bucket_cap`` are HOT.
      The hot-token table is ≤ total_prefix_rows / cap rows, so it
      broadcasts.
    * cold tier — prefix rows whose token is cold keep the exact
      PPJoin join (:func:`_ppjoin_candidates`; length + positional
      bounds stay valid because ``pos`` is the rank in the ORIGINAL
      global order).
    * hot tier — docs carrying ≥1 hot prefix token get set-MinHash
      banding over their full token sets (``num_hashes`` seeded
      xxhash64 min-aggregates, ``band_rows`` rows per band, bucket
      cap ``minhash_max_bucket`` with the family's skip-audit
      available via :func:`setsim_hybrid_hot_audit`).
    * verify — the union of both tiers' candidates goes through the
      SAME exact-Jaccard verify (:func:`_verify_jaccard`), so
      precision is exact regardless of tier.

    Recall decomposition: a qualifying pair's FIRST shared prefix
    token (global rarest-first order) provably survives the exact
    tier's positional filter.  If that token is cold, the pair is in
    the cold join — deterministic.  If it is hot, BOTH docs carry a
    hot prefix token, so the pair lies inside the hot tier's scope —
    found with P = 1 - (1 - J^band_rows)^n_bands per band-collision
    (J ≥ 0.97, r=2, b=8 → miss ≈ 1.5e-10).  Corollary pinned by
    ``tests/test_llmdata.py::test_setsim_hybrid_equals_exact_when_no_hot``:
    with no hot token anywhere the hot tier is EMPTY and the hybrid
    output equals :func:`setsim_join_prefix` exactly.

    100 TB posture: every stage is an equality shuffle on a derived
    key (prefix token / band value); hot-token candidate mass drops
    from Σ B²/2 over hot buckets to Σ bucket² over minhash buckets —
    which concentrate on genuinely-similar docs, not on shared
    boilerplate.  Returns (a, b, jaccard) with a < b, rounded to 6."""
    from ..functions.core import let_

    ranked, prefixes = _setsim_prefixes(docs, id_col, text_col, threshold)

    occ = prefixes.groupBy("ptok").agg(F.count(F.lit(1)).alias("__n"))
    hot = occ.filter(F.col("__n") > hot_bucket_cap).select("ptok")

    cold_prefixes = prefixes.join(F.broadcast(hot), "ptok", "left_anti")
    cold_cand = _ppjoin_candidates(cold_prefixes, threshold, hash_tokens)

    hot_ids = (
        prefixes.join(F.broadcast(hot), "ptok", "left_semi")
        .select("id")
        .distinct()
    )
    hot_sets = ranked.join(hot_ids, "id", "left_semi").select("id", "s")
    banded = _set_minhash_banded(hot_sets, num_hashes, band_rows, seed)
    # r14: dedup bucket ID-SETS before the pair explode.  Identical
    # docs have identical signatures, so the same membership array
    # recurs across all n_bands bands (and the explode emitted every
    # pair once PER BAND — n_bands× the rows — only for dropDuplicates
    # to discard them).  Distinct-ing the sorted id arrays first emits
    # each distinct bucket's pairs once; the candidate SET is
    # unchanged (duplicate buckets yield identical pairs), the
    # occupancy cap still applies per bucket before the distinct.
    hot_cand = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list("id")).alias("__ids"))
        .filter(F.size("__ids").between(2, minhash_max_bucket))
        .select("__ids")
        .distinct()
        .select(F.explode(let_(F.col("__ids"), _bucket_pairs)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )

    # The HYBRID keeps its pre-verify union dedup (unlike the pure
    # prefix join, which defers dedup past the verify): hot-tier pairs
    # recur across partially-overlapping band buckets, so without this
    # exchange the verify re-intersects every duplicate — measured
    # 4.5 → 9.0s when removed — and the exchange also re-spreads the
    # hot tier's byte-coalesced explode output before the map-side
    # verify.  (_verify_jaccard's post-filter dedup then collapses a
    # few survivors at no measurable cost.)
    cand = cold_cand.unionByName(hot_cand).dropDuplicates(["a", "b"])
    return _verify_jaccard(cand, ranked, threshold)


def _set_minhash_banded(
    sets_df: DataFrame, num_hashes: int, band_rows: int, seed: int
) -> DataFrame:
    """(id, band_idx, band_val) banding of TOKEN SETS (not shingles):
    signature element i = min over tokens of xxhash64(tok, seed+i);
    band value = xxhash64 over its ``band_rows`` consecutive
    signature elements (AND-amplification — r rows per band thins the
    near-identical-corpus buckets that 1-row bands merge into one).
    P[pair shares a band] = 1 - (1 - J^r)^(num_hashes/r)."""
    if num_hashes % band_rows:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by band_rows={band_rows}"
        )
    sigs = sets_df.select(
        "id", minhash_signature(F.col("s"), num_hashes, seed).alias("__sig")
    )
    n_bands = num_hashes // band_rows
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.element_at("__sig", i * band_rows + j + 1)
                                for j in range(band_rows)
                            ]
                        ).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band_idx"), F.col("bk.band_val"))


def setsim_hybrid_hot_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    hot_bucket_cap: int = 32,
    num_hashes: int = 16,
    band_rows: int = 2,
    seed: int = 42,
    minhash_max_bucket: int = 10_000,
) -> DataFrame:
    """The hybrid's hot-tier cap observable — :func:`_bucket_audit`
    over the SAME hot-doc banding :func:`setsim_join_hybrid` joins
    on: per band, rows banded and the candidate mass the
    ``minhash_max_bucket`` guard would skip.  Nonzero
    ``pairs_skipped`` means the hot tier's probabilistic recall is
    additionally truncated by the cap — raise the cap or tighten
    ``hot_bucket_cap`` routing."""
    ranked, prefixes = _setsim_prefixes(docs, id_col, text_col, threshold)
    occ = prefixes.groupBy("ptok").agg(F.count(F.lit(1)).alias("__n"))
    hot = occ.filter(F.col("__n") > hot_bucket_cap).select("ptok")
    hot_ids = (
        prefixes.join(F.broadcast(hot), "ptok", "left_semi")
        .select("id")
        .distinct()
    )
    hot_sets = ranked.join(hot_ids, "id", "left_semi").select("id", "s")
    banded = _set_minhash_banded(hot_sets, num_hashes, band_rows, seed)
    return _bucket_audit(banded, minhash_max_bucket)
