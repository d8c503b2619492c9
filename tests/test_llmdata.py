"""Unit tests for the LLM-data operators: dedup tiers, similarity
search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_estate_etl_dev_spark.operators.dedup import (
    dedup_exact_groups,
    dedup_exact_keep_first,
    dedup_minhash_pairs,
    dedup_simhash_pairs,
    ngram_jaccard,
    simhash64,
)
from real_estate_etl_dev_spark.operators.multimodal import (
    attach_binary,
    fake_feature_extractor,
)
from real_estate_etl_dev_spark.operators.similarity import cosine_topk, lsh_topk

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),   # near dup
    (4, "completely different words entirely here now"),
    (5, "another unrelated document text body sample"),
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    d = docs_df(spark)
    groups = dedup_exact_groups(d).collect()
    assert len(groups) == 1
    assert groups[0]["keeper"] == 1 and groups[0]["n_dups"] == 2
    kept = dedup_exact_keep_first(d)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]


def test_minhash_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_dist"]
        for r in dedup_minhash_pairs(docs_df(spark), threshold=0.8, shingle_n=2).collect()
    }
    assert pairs[(1, 2)] == 0.0  # exact dup at distance 0
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] < 0.8  # near dup


def test_simhash(spark):
    d = docs_df(spark)
    sims = {r["doc_id"]: r["s"] for r in d.select("doc_id", simhash64("text").alias("s")).collect()}
    assert sims[1] == sims[2]  # identical text → identical fingerprint
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup_simhash_pairs(d, max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # near dup within hamming budget


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>"
    )
    got = df.select(ngram_jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0][0]
    assert got == 0.5  # |{b,c}| / |{a,b,c,d}|


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [1.0, 0.05, 0.0]),
]


def vec_df(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def test_cosine_topk(spark):
    emb = vec_df(spark)
    queries = emb.filter(F.col("vec_id") == 0)
    got = cosine_topk(emb, queries, k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(got, key=lambda r: r["rank"])]
    assert ranked == [(1, 4), (2, 1)]  # closest first, self excluded


def test_cosine_topk_matches_pair_join(spark):
    """The NumPy mapInPandas kernel + margin pre-truncation must equal
    the original broadcast-pair-join expression kernel EXACTLY —
    same (query, neighbor, cos_sim, rank) rows, cos_sim bit-identical
    at 6 dp — on a fixture that exercises self-exclusion, rounding
    ties (exact duplicate vectors), and more candidates than k."""
    from real_estate_etl_dev_spark.operators.similarity import dot, l2_norm
    from pyspark.sql import Window

    rows = []
    for i in range(40):
        # deterministic pseudo-random vectors; duplicates every 10th
        # row force cos_sim ties that the margin logic must keep
        base = i % 10
        rows.append(
            (i, [((base * 7 + j * 13) % 17) / 7.0 - 1.1 for j in range(9)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 4 == 0)
    corpus = emb

    got = cosine_topk(corpus, queries, k=3).collect()

    # reference: the pre-optimization JVM expression plan, verbatim
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        l2_norm(F.col("embedding")).alias("__qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        l2_norm(F.col("embedding")).alias("__cnorm"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_t = [tuple(r) for r in sorted(got, key=key)]
    want_t = [tuple(r) for r in sorted(want, key=key)]
    assert got_t == want_t
    assert len(got_t) == 10 * 3  # every query filled its k


def test_keyed_scored_matches_pair_join(spark):
    """The r15 norm-bound key join (_bucket_scored /
    ivf_scored_from_cells: per-row norms computed once before the
    join) must equal the original inline ``F.round(cosine(q, c), 6)``
    pair expression EXACTLY — the same (query, neighbor) pair set and
    bit-identical cos_sim — on a fixture with duplicate vectors
    (rounding ties), self-matches in the same key group (must be
    excluded), multiple queries sharing a key group, and keys with
    zero candidates."""
    from real_estate_etl_dev_spark.operators.similarity import (
        _bucket_scored,
        cosine,
        ivf_scored_from_cells,
    )

    rows = []
    for i in range(48):
        base = i % 12
        v = [((base * 7 + j * 13) % 17) / 7.0 - 1.1 for j in range(9)]
        rows.append((i, v, i % 5))  # 5 key groups
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, key int"
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.col("key").alias("__cell"),
    )
    # queries: every 4th vector, plus one query whose key (7) matches
    # no corpus row
    q = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.when(F.col("vec_id") == 44, F.lit(7))
        .otherwise(F.col("key"))
        .alias("__cell"),
    )

    want = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in c.join(F.broadcast(q), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("__qvec"), F.col("__cvec")), 6
            ).alias("cos_sim"),
        )
        .collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ivf_scored_from_cells(c, q).collect()
    }
    assert set(got) == set(want) and len(want) > 50
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # bit-equal at 6dp

    # the bucket-keyed entry goes through the same kernel
    cb = c.select("neighbor_id", "__cvec", F.col("__cell").alias("__bucket"))
    qb = q.select("query_id", "__qvec", F.col("__cell").alias("__bucket"))
    got_b = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in _bucket_scored(cb, qb).collect()
    }
    assert got_b == got


def test_query_batch_bound_guard(spark, monkeypatch):
    """Past the driver bound (VERDICT r14 item 7) the query batch fails
    BEFORE landing on the driver; a batch at the bound still scores."""
    import pytest

    from real_estate_etl_dev_spark.operators import similarity as S

    emb = vec_df(spark)  # 5 rows
    monkeypatch.setattr(S, "MAX_QUERY_BATCH_ROWS", 2)
    # bound + 1 rows collected, not all 5
    with pytest.raises(AssertionError, match="batch of 3 rows exceeds"):
        S.cosine_topk(emb, emb, k=1)
    at_bound = emb.filter(F.col("vec_id") < 2)
    assert len(S.cosine_topk(emb, at_bound, k=1).collect()) == 2


def test_cosine_prefix_scores_matches_jvm(spark):
    """The multi-width prefix kernel (cosine_prefix_scores) must equal
    the JVM ``cosine(slice(q,1,d), slice(c,1,d))`` expression EXACTLY
    (raw doubles, bitwise) at every width — duplicate vectors force
    rounding ties — since embedding_matryoshka_recall's certified
    values are F.round over these raw cosines.  (No zero-norm prefix
    in the fixture: under ANSI mode the JVM reference THROWS on a
    zero divisor, so the real query could never have computed one —
    the kernel's NaN there is unreachable-by-construction.)"""
    import math

    from real_estate_etl_dev_spark.operators.similarity import (
        cosine,
        cosine_prefix_scores,
    )

    rows = []
    for i in range(30):
        base = i % 8
        v = [((base * 5 + j * 11) % 13) / 6.0 - 1.05 for j in range(12)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    dims = (4, 8, 12)

    got = {
        (r["query_id"], r["neighbor_id"]): tuple(r[f"cos_d{d}"] for d in dims)
        for r in cosine_prefix_scores(emb, queries, dims).collect()
    }

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    want_rows = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            *[
                cosine(F.slice("qv", 1, d), F.slice("cv", 1, d)).alias(f"c{d}")
                for d in dims
            ],
        )
        .collect()
    )
    want = {
        (r["query_id"], r["neighbor_id"]): tuple(r[f"c{d}"] for d in dims)
        for r in want_rows
    }
    assert set(got) == set(want) and len(got) == 6 * 29
    for k in want:
        for g, w in zip(got[k], want[k]):
            if w is None or (isinstance(w, float) and math.isnan(w)):
                assert g is None or math.isnan(g), (k, g, w)
            else:
                assert g == w, (k, g, w)  # bitwise-equal doubles


def test_near_dup_pairs_matches_jvm(spark):
    """The vectorized blocked-pair kernel (blocked_cosine_pairs_np)
    must reproduce the pre-r14 JVM expression plan EXACTLY on the
    real fixture — same (id_a, id_b) set, cos_sim bit-identical at
    6 dp — including the perturbed near-duplicates that sit right at
    the 0.9 threshold the raw pre-cut must not lose."""
    from real_estate_etl_dev_spark.functions.core import let_
    from real_estate_etl_dev_spark.operators.similarity import dot, l2_norm
    from real_estate_etl_dev_spark.plans.llmdata import (
        _id_offset,
        _near_dup_pair_frames,
    )
    from real_estate_etl_dev_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, _near_dup_pair_frames(spark, sf).collect()))

    # reference: the pre-optimization JVM expression pipeline, verbatim
    base = load_table(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    perturbed = (
        base.filter(F.col("vec_id") % 20 == 0)
        .crossJoin(F.broadcast(_id_offset(base, "vec_id")))
        .select(
            (F.col("vec_id") + F.col("_off")).alias("vec_id"),
            "label",
            F.transform("v", lambda x: x * 1.0 + 0.02).alias("v"),
        )
    )
    corpus = base.unionByName(perturbed).select(
        "label",
        "vec_id",
        let_(
            l2_norm(F.col("v")),
            lambda n: F.transform("v", lambda x: x / n),
        ).alias("__n"),
    )
    a = corpus.select(
        "label", F.col("vec_id").alias("id_a"), F.col("__n").alias("__na")
    )
    b = corpus.select(
        "label", F.col("vec_id").alias("id_b"), F.col("__n").alias("__nb")
    )
    want = sorted(
        map(
            tuple,
            a.join(b, "label")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(dot(F.col("__na"), F.col("__nb")), 6).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= 0.9)
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0  # the planted perturbed copies must be found


def test_lsh_topk_finds_identical_bucket(spark):
    # an EXACT copy of the query must share its bucket at any plane
    # count (identical vector ⇒ identical signature) and re-rank to
    # the top.  The test originally asserted this for the merely
    # NEAR-identical vec 4 — not a theorem, and it only held because
    # the pre-r08 rp_signature was degenerate (2 buckets; see
    # test_rp_signature_planes_are_distinct); one healthy plane of
    # four does split a 2.9° angle.
    emb = vec_df(spark).unionByName(
        vec_df(spark)
        .filter(F.col("vec_id") == 0)
        .select(F.lit(100).cast("long").alias("vec_id"), "embedding")
    )
    queries = emb.filter(F.col("vec_id") == 0)
    got = lsh_topk(emb, queries, k=3, n_planes=4).collect()
    assert 100 in {r["neighbor_id"] for r in got}
    top = min(got, key=lambda r: r["rank"])
    assert top["neighbor_id"] == 100 and abs(top["cos_sim"] - 1.0) < 1e-9


def test_multimodal_plumbing(spark):
    d = attach_binary(docs_df(spark))
    row = d.filter(F.col("doc_id") == 1).select("payload_meta.*").collect()[0]
    assert row["n_bytes"] == len(DOCS[0][1])
    feats = {r["doc_id"]: r.asDict() for r in fake_feature_extractor(d).collect()}
    assert feats[1]["n_bytes"] == len(DOCS[0][1])
    assert feats[1]["first_byte"] == ord("t")
    assert feats[1]["last_byte"] == ord("g")
    assert feats[1]["n_tokens"] == 9


def test_hash_split_deterministic_and_exhaustive(spark, sf_dir):
    from real_estate_etl_dev_spark.operators.sampling import hash_split
    from real_estate_etl_dev_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = hash_split(docs).select("doc_id", "split")
    b = hash_split(docs.repartition(7)).select("doc_id", "split")
    # partition-layout independent (the property randomSplit lacks)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    counts = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] / n > 0.6  # rough proportion sanity


def test_dedup_pair_growth_is_linear_across_sf(spark):
    """The r01 verdict measured 94x pair growth for 10x rows with the
    (n_chars, lang) bucket key. The content-hash key must grow the
    duplicate-pair count ~linearly with the corpus (the injected dup
    rate is constant), or the operator is quadratic at scale."""
    from real_estate_etl_dev_spark.plans.llmdata import dedup_exact_groups_q

    counts = {}
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        groups = dedup_exact_groups_q(spark, sf)
        # total implied pairs: sum over classes of n*(n-1)/2
        from pyspark.sql import functions as F

        pairs = groups.agg(
            F.sum(F.col("n_dups") * (F.col("n_dups") - 1) / 2).alias("p")
        ).collect()[0]["p"]
        counts[sf] = float(pairs or 0)
    ratio = counts["/root/testdata/sf0.01"] / max(counts["/root/testdata/sf0.001"], 1.0)
    # 10x corpus -> ~10x pairs; anything approaching quadratic (100x)
    # means the key regressed to a low-entropy bucket
    assert ratio <= 20, f"pair growth {ratio:.1f}x for 10x rows"


def test_bucket_audit_flags_hot_bucket(spark):
    """A bucket over max_bucket must surface in the audit with the
    exact B·(B−1)/2 dropped-pair mass; a cap-free corpus audits 0."""
    from real_estate_etl_dev_spark.operators.dedup import (
        minhash_bucket_audit,
        simhash_bucket_audit,
    )

    # 10 identical docs → every band has one 10-member bucket
    hot = spark.createDataFrame(
        [(i, "same text every time") for i in range(10)],
        "doc_id long, text string",
    )
    audit = minhash_bucket_audit(hot, num_hashes=3, max_bucket=4).collect()
    assert len(audit) == 3
    for r in audit:
        assert r["rows_banded"] == 10
        assert r["n_skipped_buckets"] == 1
        assert r["rows_in_skipped"] == 10
        assert r["pairs_skipped"] == 45  # 10·9/2

    cold = docs_df(spark)
    for r in simhash_bucket_audit(cold, max_bucket=200).collect():
        assert r["n_skipped_buckets"] == 0 and r["pairs_skipped"] == 0


def test_combined_bucket_audit_matches_per_algo_and_fuses_shuffle(spark):
    """The fused audit must emit exactly the per-algo audits' rows
    (algo-tagged) while paying ONE wide occupancy exchange for both
    bandings instead of one each."""
    from real_estate_etl_dev_spark.operators.dedup import (
        combined_bucket_audit,
        minhash_bucket_audit,
        simhash_bucket_audit,
    )

    docs = spark.createDataFrame(
        [(i, "same hot text" if i % 3 == 0 else f"cold doc {i} tokens vary {i*i}")
         for i in range(30)],
        "doc_id long, text string",
    )
    fused = combined_bucket_audit(
        docs, num_hashes=3, shingle_n=2, minhash_max_bucket=4,
        n_bands=4, simhash_max_bucket=4,
    )
    expect = {
        ("minhash", r["band_idx"]): r
        for r in minhash_bucket_audit(
            docs, num_hashes=3, shingle_n=2, max_bucket=4
        ).collect()
    }
    expect.update(
        {
            ("simhash", r["band_idx"]): r
            for r in simhash_bucket_audit(docs, max_bucket=4).collect()
        }
    )
    rows = fused.collect()
    assert len(rows) == 7  # 3 minhash + 4 simhash bands
    for r in rows:
        e = expect[(r["algo"], r["band_idx"])]
        for c in ("rows_banded", "n_skipped_buckets",
                  "rows_in_skipped", "pairs_skipped"):
            assert r[c] == e[c], (r["algo"], r["band_idx"], c)

    # The fusion claim, self-calibrated: the unfused shape (audit per
    # algo, union after) must pay strictly more hash exchanges than
    # the fused shape (union before the occupancy agg) under the same
    # plan walk.
    import pyspark.sql.functions as F

    unfused = (
        minhash_bucket_audit(docs, num_hashes=3, shingle_n=2, max_bucket=4)
        .select(F.lit("minhash").alias("algo"), "*")
        .unionByName(
            simhash_bucket_audit(docs, max_bucket=4).select(
                F.lit("simhash").alias("algo"), "*"
            )
        )
        .orderBy("algo", "band_idx")
    )

    # the walk reads the CURRENT adaptive plan (final once executed),
    # so executed/unexecuted frames compare fairly
    from tests.test_plan_shapes import Plan

    assert len(Plan(fused).hash_keys()) < len(Plan(unfused).hash_keys()), (
        "fusion no longer saves a wide exchange"
    )


def test_flag_corpus_dups(spark):
    """Incremental dedup: incoming docs whose text exists in the corpus
    are flagged; fresh docs pass."""
    from real_estate_etl_dev_spark.operators.dedup import flag_corpus_dups

    corpus = docs_df(spark)
    incoming = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # in corpus
            (101, "another unrelated document text body sample"),  # in corpus
            (102, "a genuinely new document not seen before"),
        ],
        "doc_id long, text string",
    )
    flagged = {r["doc_id"]: r["in_corpus"] for r in flag_corpus_dups(incoming, corpus).collect()}
    assert flagged == {100: True, 101: True, 102: False}
    # schema: input columns preserved, exactly one new boolean column
    out_cols = flag_corpus_dups(incoming, corpus).columns
    assert out_cols == ["doc_id", "text", "in_corpus"]


def test_flag_incremental_minhash(spark):
    """Incremental NEAR-dup: a new batch screened against the persisted
    corpus LSH index — exact re-crawls match all bands (est 1.0), an
    unrelated doc is never flagged, and the corpus text is never read
    (the index alone drives the probe)."""
    from real_estate_etl_dev_spark.operators.dedup import (
        flag_incremental_minhash,
        minhash_corpus_index,
    )

    corpus = docs_df(spark)
    index = minhash_corpus_index(corpus, num_hashes=4, shingle_n=2, seed=7)
    incoming = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # re-crawl of 1,2
            (101, "a genuinely new document not seen before"),     # fresh
        ],
        "doc_id long, text string",
    )
    flags = flag_incremental_minhash(
        incoming, index, num_hashes=4, shingle_n=2, seed=7, min_sig_agree=0.5
    ).collect()
    by_pair = {(r["doc_id"], r["matched_id"]): r for r in flags}
    # the re-crawl matches BOTH copies of its text on every band
    assert by_pair[(100, 1)]["est_jaccard"] == 1.0
    assert by_pair[(100, 2)]["n_band_matches"] == 4
    assert not any(ic == 101 for ic, _ in by_pair)


def test_flag_incremental_minhash_bucket_cap(spark):
    """Hot corpus buckets above max_bucket are excluded from the probe
    (quadratic-blowup guard): with a cap of 1 and two identical corpus
    docs sharing every bucket, the re-crawl finds nothing via those
    buckets."""
    from real_estate_etl_dev_spark.operators.dedup import (
        flag_incremental_minhash,
        minhash_corpus_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    index = minhash_corpus_index(corpus, num_hashes=3, shingle_n=2, seed=7)
    incoming = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    capped = flag_incremental_minhash(
        incoming, index, num_hashes=3, shingle_n=2, seed=7, max_bucket=1
    ).collect()
    assert capped == []


def test_connected_components_resolves_transitive_clusters(spark):
    """A~B, B~C with no A~C edge must land in ONE component keyed by
    the min id; disjoint pairs stay separate."""
    from real_estate_etl_dev_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        ["src", "dst"],
    )
    got = {
        (r.node, r.comp) for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (7, 7), (8, 7),
        (10, 10), (11, 10), (12, 10), (13, 10),
    }


def test_connected_components_long_chain_converges(spark):
    """A 12-node path (diameter 11) converges within default rounds —
    min-label propagation needs diameter rounds, not log(n)."""
    from real_estate_etl_dev_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], ["src", "dst"]
    )
    comps = {r.comp for r in connected_components(edges).collect()}
    assert comps == {100}


def test_connected_components_iteration_guard(spark):
    """Convergence guard: a chain longer than max_iters raises instead
    of silently returning a half-propagated labeling."""
    import pytest
    from real_estate_etl_dev_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 30)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)


def _mix_docs(spark, n=200):
    rows = [(i, "dom_a" if i % 4 else "dom_b", 10 + (i % 7)) for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "domain", "n_tok"])


def test_mixture_sample_deterministic_and_partition_independent(spark):
    from real_estate_etl_dev_spark.operators.sampling import mixture_sample

    docs = _mix_docs(spark)
    kw = dict(
        domain_col="domain",
        weights_bp={"dom_a": 7000, "dom_b": 3000},
        token_col="n_tok",
        budget_tokens=500,
    )
    a = {r.doc_id for r in mixture_sample(docs, **kw).collect()}
    b = {r.doc_id for r in mixture_sample(docs.repartition(13), **kw).collect()}
    assert a == b and a, "sample membership must not depend on partitioning"


def test_mixture_plan_deficit_clamps_not_rebalances(spark):
    """A domain smaller than its target keeps everything (rate 10000)
    and the surplus is NOT silently shifted to other domains."""
    from real_estate_etl_dev_spark.operators.sampling import mixture_plan

    docs = _mix_docs(spark)  # dom_b has ~50 docs * ~13 tok ≈ 650 tokens
    plan = {
        r.domain: r
        for r in mixture_plan(
            docs, "domain", {"dom_a": 2000, "dom_b": 8000}, "n_tok", 10_000
        ).collect()
    }
    assert plan["dom_b"]["__rate_bp"] == 10_000  # wants 8000 tokens, has ~650
    # dom_a's rate reflects ITS OWN 2000-bp target only
    a = plan["dom_a"]
    assert a["__rate_bp"] == min(10_000, 10_000 * 2000 // a["__avail_tokens"])


def test_mixture_sample_tracks_target_shares(spark):
    """With ample corpora the sampled token mass lands near the target
    mixture (hash-uniformity, not exactness, is the contract)."""
    from real_estate_etl_dev_spark.operators.sampling import mixture_sample

    docs = _mix_docs(spark, n=2000)
    out = (
        mixture_sample(
            docs,
            domain_col="domain",
            weights_bp={"dom_a": 5000, "dom_b": 5000},
            token_col="n_tok",
            budget_tokens=4000,
        )
        .groupBy("domain")
        .agg(F.sum("n_tok").alias("tok"))
        .collect()
    )
    got = {r.domain: r.tok for r in out}
    for dom in ("dom_a", "dom_b"):
        assert 0.7 * 2000 < got[dom] < 1.3 * 2000, got


def test_mixture_plan_rate_invariants(spark):
    """Rates are integers in [0, 10000]; a domain absent from the
    weight map rates 0 (sampled out, never crashed on)."""
    from real_estate_etl_dev_spark.operators.sampling import mixture_plan

    docs = spark.createDataFrame(
        [(i, ["dom_a", "dom_b", "ghost"][i % 3], 10) for i in range(90)],
        ["doc_id", "domain", "n_tok"],
    )
    plan = {
        r["domain"]: r["__rate_bp"]
        for r in mixture_plan(
            docs, "domain", {"dom_a": 5000, "dom_b": 5000}, "n_tok", 600
        ).collect()
    }
    assert set(plan) == {"dom_a", "dom_b", "ghost"}
    assert plan["ghost"] == 0
    assert all(0 <= v <= 10_000 for v in plan.values())


def test_edit_distance_pairs_caps_hot_variant(spark):
    """A near-constant field floods one variant bucket; the cap must
    drop it (bounded work) rather than expand a quadratic pair set."""
    from real_estate_etl_dev_spark.operators.fuzzy import edit_distance_pairs

    rows = [(i, "same") for i in range(50)] + [(100, "abcd"), (101, "abce")]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, field="t", max_bucket=10).collect()
    }
    assert got == {(100, 101)}  # the hot 'same' clique is capped away


def test_deletion_bucket_audit_fires_on_capped_drop(spark):
    """r05 ADVICE: the cap used to bite silently.  The audit must make
    the same drop visible — same corpus + cap as the pair job above —
    and read all-zero when the cap is vacuous."""
    from real_estate_etl_dev_spark.operators.fuzzy import (
        deletion_bucket_audit,
        edit_distance_pairs,
    )

    rows = [(i, "same") for i in range(50)] + [(100, "abcd"), (101, "abce")]
    df = spark.createDataFrame(rows, "doc_id long, t string")
    a = deletion_bucket_audit(df, field="t", max_bucket=10).collect()[0]
    # 'same' + its 4 deletions = 5 hot buckets of 50 rows each; the
    # skipped candidate mass is 5 * C(50,2)
    assert a.n_hot_buckets == 5
    assert a.rows_in_hot == 250
    assert a.pairs_skipped == 5 * (50 * 49 // 2)
    # and the pair job under the same cap indeed returned none of them
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, field="t", max_bucket=10).collect()
    }
    assert got == {(100, 101)}

    # cap raised past the clique: audit goes quiet
    quiet = deletion_bucket_audit(df, field="t", max_bucket=500).collect()[0]
    assert (quiet.n_hot_buckets, quiet.rows_in_hot, quiet.pairs_skipped) == (0, 0, 0)


def test_lloyd_kmeans_partitioning_invariance_and_shape(spark, sf_dir):
    """lloyd_kmeans is a pure function of the data: the same corpus at
    a different partitioning yields the SAME centroids and sizes (the
    exact-decimal arithmetic claim), cluster sizes sum to |vectors|,
    and every cluster row carries all dims."""
    from real_estate_etl_dev_spark.operators.similarity import lloyd_kmeans
    from real_estate_etl_dev_spark.sources.readers import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    a = lloyd_kmeans(vecs, k=4, iterations=3).collect()
    b = lloyd_kmeans(vecs.repartition(7, "label"), k=4, iterations=3).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    n_vecs = vecs.count()
    sizes = {}
    dims = {}
    for r in a:
        sizes[r.cluster] = r.n_members
        dims[r.cluster] = dims.get(r.cluster, 0) + 1
    assert sum(sizes.values()) == n_vecs
    assert set(dims.values()) == {64}
    assert len(sizes) == 4


def test_pagerank_partitioning_invariance_and_mass(spark, sf_dir):
    """pagerank is a pure function of the edge set: same ranks under a
    different partitioning, total rank mass ~1 (the per-edge decimal
    rounding bounds drift below 1e-6), every node present."""
    from pyspark.sql import functions as F
    from real_estate_etl_dev_spark.operators.graph import pagerank
    from real_estate_etl_dev_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = sorted(tuple(r) for r in pagerank(edges, rounds=2).collect())
    b = sorted(
        tuple(r) for r in pagerank(edges.repartition(13, "dst"), rounds=2).collect()
    )
    assert a == b
    n = edges.select("src").distinct().count()
    assert len(a) == n
    mass = sum(r[1] for r in a)
    assert abs(mass - 1.0) < 1e-6, mass


def test_setsim_threshold_is_on_raw_ratio(spark):
    """A pair whose Jaccard sits just BELOW the threshold must be
    excluded even though it rounds up to it — the filter operates on
    the raw ratio, not the 6-dp projection (second-review fix)."""
    from real_estate_etl_dev_spark.operators.dedup import setsim_join_prefix

    # |A∩B|=9, |A∪B|=11 → J = 0.818181…; threshold 0.818182 rounds the
    # ratio UP to itself at 6dp but the raw value is below it
    common = " ".join(f"w{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(1, common + " x1"), (2, common + " y1")], "doc_id long, text string"
    )
    out = setsim_join_prefix(docs, threshold=0.818182).collect()
    assert out == []
    # at a threshold the raw ratio meets, the pair appears with the
    # rounded score
    out2 = setsim_join_prefix(docs, threshold=0.818181).collect()
    assert len(out2) == 1 and abs(out2[0].jaccard - 0.818182) < 1e-9


def test_pagerank_two_node_toy_matches_hand_computation(spark):
    """A 2-node symmetric graph has the closed-form fixed point
    rank = 0.5 each; one round from uniform init must already land
    there (contribution = 0.5/1, rank = 0.075 + 0.85*0.5 = 0.5)."""
    from real_estate_etl_dev_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    out = {r.node: r.rank for r in pagerank(edges, rounds=1).collect()}
    assert abs(out["a"] - 0.5) < 1e-9 and abs(out["b"] - 0.5) < 1e-9


def test_kmeans_empty_cluster_drops_as_documented(spark):
    """Seeds 0 and 1 are IDENTICAL vectors, so every point is
    equidistant to both and the deterministic tie-break (min cluster
    id) sends all of them to cluster 0 — cluster 1 empties and must
    DROP from the output (the documented Lloyd degeneracy), never
    resurface as a ghost row."""
    from real_estate_etl_dev_spark.operators.similarity import lloyd_kmeans

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])]
    for i in range(10, 15):
        rows.append((i, [100.0, 100.0]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lloyd_kmeans(vecs, k=2, iterations=2).collect()
    clusters = {r.cluster for r in out}
    sizes = {}
    for r in out:
        sizes[r.cluster] = r.n_members
    assert clusters == {0}  # cluster 1 emptied and dropped
    assert sum(sizes.values()) == 7  # every vector still assigned


def test_setsim_rational_bounds(spark):
    """The prefix/length bounds must use EXACT rational arithmetic
    (ADVICE r06), pinned at a (threshold, size) pair where doubles
    GENUINELY diverge: 0.55*100 rounds to 55.000000000000007, so the
    double form gives ceil = 56 while the true ceil(55/100·100) is
    55 — the length filter |x| >= ceil(t*|y|) then rejects the
    qualifying pair (|x|=55 ⊂ |y|=100, J = 55/100 = 0.55 exactly).
    The platform divergence is asserted inline so this test can never
    silently go vacuous (the first version used ceil(0.2*5), which
    doubles get RIGHT — 0.2*5 rounds to exactly 1.0)."""
    import math

    from real_estate_etl_dev_spark.operators.dedup import setsim_join_prefix

    # the hazard this test pins must exist on this platform's doubles
    assert math.ceil(0.55 * 100) == 56 and (55 * 100 + 99) // 100 == 55

    y = " ".join(f"w{i}" for i in range(100))
    x = " ".join(f"w{i}" for i in range(55))
    docs = spark.createDataFrame([(1, x), (2, y)], "doc_id long, text string")
    out = setsim_join_prefix(docs, threshold=0.55).collect()
    assert len(out) == 1
    assert (out[0].a, out[0].b) == (1, 2) and abs(out[0].jaccard - 0.55) < 1e-9


def _hybrid_corpus(spark):
    """120 docs in 30 disjoint-vocab cold groups + a 30-doc hot
    boilerplate cluster + identical copies of every 7th doc — both
    hybrid tiers provably execute at hot_bucket_cap=8."""
    rows = []
    for i in range(120):
        g = i % 30
        toks = [f"w{j}_g{g}" for j in range((i * 3) % 5, 8 + (i % 4))]
        if i % 4 == 0:
            toks = [f"h{j}" for j in range(10)] + toks[:1]
        rows.append((i, " ".join(toks)))
    rows += [(1000 + i, rows[i][1]) for i in range(0, 120, 7)]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_rp_signature_planes_are_distinct(spark):
    """r08 regression pin: rp_signature's planes must be DISTINCT
    hyperplanes.  The original ``lambda i, p=p`` transform lambda was
    silently treated as the (element, index) two-arg form, the index
    shadowed the plane id, every plane computed the same projection,
    and the 8-plane signature collapsed to 2 buckets (|corpus|/2
    candidates per query instead of |corpus|/2^p — found by the ANN
    operating-curve audit).  A healthy 8-plane signature over the
    500-vector fixture must occupy far more than 2 buckets, with no
    half-corpus bucket."""
    from collections import Counter

    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.similarity import (
        lcg_rp_signature,
        rp_signature,
    )
    from real_estate_etl_dev_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    for sig_fn in (
        lambda v: rp_signature(v, 8, 7),
        lambda v: lcg_rp_signature(v, 8),
    ):
        sigs = [r.s for r in emb.select(sig_fn(F.col("v")).alias("s")).collect()]
        cnt = Counter(sigs)
        assert len(cnt) > 50, f"degenerate signature: {len(cnt)} buckets"
        assert max(cnt.values()) < len(sigs) // 4


def test_lcg_signature_folded_equals_dynamic(spark):
    """The constant-folded plane path (``dim`` known at plan time)
    must produce BIT-IDENTICAL signatures to the dynamic per-element
    LCG derivation at every plane count the audit sweeps: the folded
    literals are computed with the same pure integer arithmetic, and
    the per-term round/cast and decimal fold are unchanged."""
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.similarity import (
        lcg_rp_signature,
    )
    from real_estate_etl_dev_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    for planes in (4, 10):
        got = emb.select(
            "vec_id",
            lcg_rp_signature(F.col("v"), planes, dim=64).alias("s"),
        ).collect()
        want = emb.select(
            "vec_id", lcg_rp_signature(F.col("v"), planes).alias("s")
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_setsim_hybrid_equals_exact_when_no_hot(spark):
    """The hybrid's completeness corollary (VERDICT r07 item 3): with
    the occupancy cap above every bucket, the hot tier is EMPTY and
    the hybrid output equals setsim_join_prefix verbatim — the
    'hybrid == exact on a corpus with no hot buckets' certification
    the catalog query's brute-force oracle extends to mixed corpora."""
    from real_estate_etl_dev_spark.operators.dedup import (
        setsim_join_hybrid,
        setsim_join_prefix,
    )

    _, docs = _hybrid_corpus(spark)
    key = lambda r: (r.a, r.b, r.jaccard)  # noqa: E731
    exact = sorted(map(key, setsim_join_prefix(docs, threshold=0.9).collect()))
    hybrid = sorted(
        map(
            key,
            setsim_join_hybrid(
                docs, threshold=0.9, hot_bucket_cap=10**6
            ).collect(),
        )
    )
    assert hybrid == exact and len(exact) > 0


def test_setsim_hybrid_matches_bruteforce_with_hot_routing(spark):
    """With cap=8 the boilerplate cluster ROUTES to the MinHash tier
    (asserted non-vacuous via the audit) and the hybrid still equals
    the brute-force all-pairs answer — recall survives the routing."""
    from itertools import combinations

    from real_estate_etl_dev_spark.operators.dedup import (
        setsim_hybrid_hot_audit,
        setsim_join_hybrid,
    )

    rows, docs = _hybrid_corpus(spark)
    t = 0.9
    hybrid = sorted(
        (r.a, r.b, r.jaccard)
        for r in setsim_join_hybrid(docs, threshold=t, hot_bucket_cap=8).collect()
    )
    sets = {i: set(s.split(" ")) for i, s in rows}
    brute = sorted(
        (a, b, round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6))
        for a, b in combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t
    )
    assert hybrid == brute and len(brute) > 0
    audit = setsim_hybrid_hot_audit(docs, threshold=t, hot_bucket_cap=8).collect()
    assert sum(r.rows_banded for r in audit) > 0  # hot tier non-vacuous
    assert sum(r.pairs_skipped for r in audit) == 0  # cap never bit


def test_frac_rejects_non_decimal_threshold():
    """_frac must fail LOUDLY on a threshold that is not a short
    decimal literal (ADVICE r07): 1/3 stringifies to 17 significant
    digits → ~1e16 denominator → the <2^53 exactness argument behind
    every rational bound silently dies.  Short decimals still parse."""
    import pytest

    from real_estate_etl_dev_spark.operators.dedup import _frac

    assert _frac(0.97) == (97, 100)
    assert _frac(0.5) == (1, 2)
    with pytest.raises(ValueError, match="short decimal"):
        _frac(1 / 3)


def test_setsim_hashed_equals_string(spark):
    """The xxhash64 prefix-token shuffle key must be a pure
    representation change: pair output identical to the raw-string
    form on a corpus with real near-dup structure (VERDICT r06
    item 3 — 'implemented, not prose')."""
    from real_estate_etl_dev_spark.operators.dedup import setsim_join_prefix

    rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12))) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(0, 40, 5)]  # planted dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r.a, r.b, r.jaccard)  # noqa: E731
    hashed = sorted(map(key, setsim_join_prefix(docs, threshold=0.8).collect()))
    strform = sorted(
        map(key, setsim_join_prefix(docs, threshold=0.8, hash_tokens=False).collect())
    )
    assert hashed == strform and len(hashed) > 0


def test_planted_id_offset_is_collision_proof(spark):
    """Planted synthetic ids must occupy a namespace disjoint from the
    real ids at ANY scale (ADVICE r06, extended from
    merge_scd2_intervals to every llmdata fixture): the offset is
    greatest(floor, max(id) + 1), so a table whose ids already exceed
    the floor pushes the planted namespace past them instead of
    colliding.  At the committed fixtures max(id) < floor, making the
    conversion output-preserving — this test pins BOTH regimes."""
    from real_estate_etl_dev_spark.plans.llmdata import _id_offset

    small = spark.createDataFrame([(5,), (9,)], "doc_id long")
    big = spark.createDataFrame([(3,), (2_000_000,)], "doc_id long")
    assert _id_offset(small, "doc_id").collect()[0]._off == 1_000_000
    assert _id_offset(big, "doc_id").collect()[0]._off == 2_000_001
    assert (
        _id_offset(big, "doc_id", floor=5_000_000).collect()[0]._off == 5_000_000
    )


def test_ngram_coverage_hashed_equals_string(spark, sf_dir):
    """dedup_ngram_coverage's gram shuffle carries xxhash64(g); its
    output must equal the raw-gram-string form on the real fixture
    (VERDICT r06 item 3 — closes the 'swap at scale' prose promise)."""
    from real_estate_etl_dev_spark.plans.llmdata import _ngram_coverage

    key = lambda r: tuple(r)  # noqa: E731
    hashed = sorted(map(key, _ngram_coverage(spark, sf_dir, hash_grams=True).collect()))
    strform = sorted(
        map(key, _ngram_coverage(spark, sf_dir, hash_grams=False).collect())
    )
    assert hashed == strform and len(hashed) > 0


# ---------------------------------------------------------------------------
# Bloom filter (operators/bloom.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    """A Bloom filter NEVER loses a member (the structural invariant
    the fp-audit query certifies at fixture scale), and distinct
    hash functions actually produce distinct positions for most keys
    (the rp_signature-degeneracy lesson: verify families, don't
    assume them)."""
    from real_estate_etl_dev_spark.operators.bloom import (
        bit_position,
        bloom_bits,
        bloom_probe,
        lcg_params,
    )

    # the k param tuples must be pairwise distinct or the family is
    # degenerate (k identical hashes = a 1-hash filter)
    params = [lcg_params(i) for i in range(4)]
    assert len(set(params)) == 4

    members = spark.range(0, 200).selectExpr("id * 7 as key")
    probes = spark.range(0, 1400).selectExpr(
        "id as key", "id % 7 = 0 as is_member"
    )
    m, k = 4096, 3
    bits = bloom_bits(members, "key", m, k)
    verdicts = bloom_probe(probes, "key", bits, m, k).collect()
    fn = [r for r in verdicts if r["is_member"] and not r["bloom_positive"]]
    assert fn == []
    fp = [r for r in verdicts if not r["is_member"] and r["bloom_positive"]]
    # 200 members * 3 hashes in 4096 bits -> fill ~0.136, fp ~0.25%;
    # 50x headroom so the bound never flakes while still proving the
    # filter rejects the overwhelming majority of non-members
    assert len(fp) < 150

    # positions for one key differ across hash indices (family sanity)
    row = members.select(
        *[bit_position(F.col("key"), i, m).alias(f"h{i}") for i in range(3)]
    ).first()
    assert len({row[f"h{i}"] for i in range(3)}) > 1


def test_bit_position_col_matches_literal(spark):
    """The column-parametric hash twin (bit_position_col — the r14
    tall-audit form where hash index and modulus arrive as columns)
    must equal the literal family bit-for-bit at every (i, m) the two
    bloom audits actually sweep, over a key range covering small,
    large, and mod-2^31-wrapping keys."""
    from real_estate_etl_dev_spark.operators.bloom import (
        bit_position,
        bit_position_col,
        bloom_sizing,
    )
    from real_estate_etl_dev_spark.plans.llmdata import (
        _BLOOM_CONFIGS,
        _SIZING_GRID,
    )

    grids = set(_BLOOM_CONFIGS) | {
        bloom_sizing(n, p) for _, n, p, _ in _SIZING_GRID
    }
    keys = spark.range(0, 50).selectExpr(
        "id * 977 + 3 as key"
    ).unionAll(
        spark.range(0, 8).selectExpr("id * 1103515245 * 4099 as key")
    )
    for m, k in sorted(grids):
        for i in range(k):
            got = keys.select(
                bit_position(F.col("key"), i, m).alias("lit"),
                bit_position_col(
                    F.col("key"), F.lit(i).cast("long"), F.lit(m).cast("long")
                ).alias("col"),
            ).collect()
            assert all(r["lit"] == r["col"] for r in got), (m, k, i)


def test_bloom_probe_keeps_duplicate_keyed_rows(spark):
    """r08 advisor finding: probe rows sharing a key (duplicate texts
    under distinct doc_ids — they exist at sf0.1) must EACH get a
    verdict.  The buggy revision pre-deduped on [key, bitpos] and
    silently dropped one row (3 probe rows in, 2 verdicts out); pin
    one-verdict-per-distinct-row and identical per-key verdicts."""
    from real_estate_etl_dev_spark.operators.bloom import (
        bloom_bits,
        bloom_probe,
    )

    members = spark.createDataFrame([(7,), (21,)], "key long")
    probes = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 5)], "doc_id long, key long"
    )
    m, k = 4096, 3
    bits = bloom_bits(members, "key", m, k)
    verdicts = bloom_probe(probes, "key", bits, m, k).collect()
    assert len(verdicts) == 3, verdicts
    by_doc = {r["doc_id"]: r["bloom_positive"] for r in verdicts}
    assert by_doc[1] is True and by_doc[2] is True  # both key-7 rows
    assert by_doc[3] is False  # non-member, fp-improbable at this fill


# ---------------------------------------------------------------------------
# Chunking + containment (plans/llmdata.py)
# ---------------------------------------------------------------------------


def test_chunk_windows_cover_and_reconstruct(spark, sf_dir):
    """Every token of every doc is covered by some chunk, stride
    arithmetic holds, and concatenating each chunk's non-overlapped
    head reconstructs the document exactly."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _CHUNK_S,
        _CHUNK_W,
        doc_chunk_windows,
    )

    rows = (
        doc_chunk_windows(spark, sf_dir)
        .filter(F.col("doc_id") < 50)
        .collect()
    )
    assert rows
    from real_estate_etl_dev_spark.sources.readers import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        toks = texts[doc_id].split(" ")
        n = len(toks)
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["chunk_start"] == 1 + _CHUNK_S * i
            got = c["chunk_text"].split(" ")
            want = toks[_CHUNK_S * i : _CHUNK_S * i + _CHUNK_W]
            assert got == want
            assert c["chunk_tokens"] == len(want)
        # full coverage: last chunk reaches the final token
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_tokens"] - 1 == n
        # reconstruction from stride-sized heads + the last chunk
        rebuilt = []
        for c in chunks[:-1]:
            rebuilt += c["chunk_text"].split(" ")[:_CHUNK_S]
        rebuilt += chunks[-1]["chunk_text"].split(" ")
        assert rebuilt == toks


def test_containment_finds_planted_composites(spark, sf_dir):
    """Each planted composite contains exactly its two constituents
    (modulo extra pairs the brute-force oracle also reports, e.g.
    duplicate-text needles — those must point at the same composite
    set)."""
    from real_estate_etl_dev_spark.plans.llmdata import doc_containment_pairs
    from real_estate_etl_dev_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    off = max(1_000_000, max_id + 1)
    base_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    planted = {
        (i, i + off)
        for i in base_ids
        if i % 10 == 0 and (i + 1) in base_ids
    } | {
        (i + 1, i + off)
        for i in base_ids
        if i % 10 == 0 and (i + 1) in base_ids
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in doc_containment_pairs(spark, sf_dir).collect()
    }
    missing = planted - got
    assert not missing, f"planted containments lost: {sorted(missing)[:5]}"


def test_frame_schedule_endpoints_and_monotone(spark, sf_dir):
    """Uniform-k sampling must include frame 0 and the LAST frame, be
    strictly increasing, and timestamp within clip duration."""
    from real_estate_etl_dev_spark.plans.llmdata import multimodal_frame_schedule

    rows = (
        multimodal_frame_schedule(spark, sf_dir)
        .filter(F.col("doc_id") < 40)
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc_id, fr in by_doc.items():
        fr.sort(key=lambda r: r["frame_idx"])
        n, k = fr[0]["n_frames"], fr[0]["k"]
        assert len(fr) == k
        assert fr[0]["frame_idx"] == 0
        assert fr[-1]["frame_idx"] == (n - 1 if k > 1 else 0)
        idxs = [r["frame_idx"] for r in fr]
        assert idxs == sorted(set(idxs)), doc_id
        for r in fr:
            assert 0 <= r["ts_ms"] <= r["duration_ms"]


def test_frame_schedule_zero_frames_is_empty(spark):
    """r08 advisor finding: a clip whose duration*fps floors to zero
    frames must get an EMPTY schedule — Spark's sequence(0, -1)
    descends ([0, -1]) where DuckDB's generate_series(0, -1) is
    empty, so the unguarded transform emitted two spurious frame-0
    entries.  Pin empty-on-both plus the one-frame boundary."""
    from real_estate_etl_dev_spark.operators.multimodal import (
        frame_sample_schedule,
    )

    clips = spark.createDataFrame(
        [(1, 10, 23976), (2, 1000, 1000), (3, 999, 1000)],
        "clip_id long, duration_ms long, fps_milli long",
    )
    sched = frame_sample_schedule(clips, "duration_ms", "fps_milli", 8)
    rows = {
        r["clip_id"]: r["s"]
        for r in clips.select("clip_id", sched.alias("s")).collect()
    }
    assert rows[1] == []  # 10ms @ 23.976fps -> 0 frames
    assert rows[3] == []  # 999ms @ 1fps -> floor(0.999) = 0 frames
    assert [(f["frame_idx"], f["ts_ms"]) for f in rows[2]] == [(0, 0)]


def test_bpe_merge_mechanics_hand_computed(spark):
    """Pin the BPE tokenizer against hand-derived merges: full-word
    merges ('the', 'hash', 'join'), the chaining case (adjacent
    occurrences merge in ONE replace pass because every token keeps
    both delimiters), and a partial compression ('order' -> or,d,er).
    Space is its own token."""
    from real_estate_etl_dev_spark.functions.bpe import (
        bpe_token_count,
        bpe_tokenized,
    )

    df = spark.createDataFrame(
        [
            (1, "the hash join"),  # 3 words + 2 spaces = 5 tokens
            (2, "rowrow"),         # r,o,w,r,o,w -> ro,w,ro,w -> row,row
            (3, "order"),          # o,r,d,e,r -> o,r,d,er -> or,d,er
            (4, "xyz"),            # no merges apply: 3 char tokens
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n"], r["m"])
        for r in df.select(
            "doc_id",
            bpe_token_count(F.col("text")).alias("n"),
            bpe_tokenized(F.col("text")).alias("m"),
        ).collect()
    }
    assert rows[1][0] == 5, rows[1]
    assert rows[1][1] == "_the__ __hash__ __join_"
    assert rows[2] == (2, "_row__row_")
    assert rows[3] == (3, "_or__d__er_")
    assert rows[4] == (3, "_x__y__z_")


def test_bpe_budget_cut_differs_from_whitespace(spark, sf_dir):
    """The certified artifact must PROVE the tokenizer moves the cut:
    at least one document is kept under the whitespace budget but cut
    under the BPE budget (same budget, same ordering)."""
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    rows = CATALOG["token_budget_bpe"].fn(spark, sf_dir).collect()
    assert any(r["kept_ws"] and not r["kept_bpe"] for r in rows)
    # same ordering + faster-growing cumsum => BPE-kept is a subset
    assert all(r["kept_ws"] for r in rows if r["kept_bpe"])


def test_bloom_sizing_matches_bound_and_alarms(spark):
    """bloom_sizing must reproduce the standard bound at the grid
    points (hand-checked) and scale linearly in n at fixed target;
    k depends only on the target."""
    from real_estate_etl_dev_spark.operators.bloom import bloom_sizing

    assert bloom_sizing(500, 0.01) == (4793, 7)
    assert bloom_sizing(500, 0.05) == (3118, 4)
    m1, k1 = bloom_sizing(1000, 0.01)
    m2, k2 = bloom_sizing(100000, 0.01)
    assert k1 == k2 == 7  # optimal k is a pure function of target_fp
    assert abs(m2 / m1 - 100) < 0.01  # m linear in n


def test_pq_funnel_dominates_direct(spark, sf_dir):
    """Any exact-top-5 member that survives into the ADC top-5 is a
    fortiori in the ADC top-50, and the funnel re-ranks by TRUE
    cosine — where exact-top-5 members beat every non-member — so
    funnel hits can never fall below direct hits, per query."""
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    rows = CATALOG["embedding_pq_adc_recall"].fn(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["funnel_hits_at5"] >= r["adc_hits_at5"], r


# ---------------------------------------------------------------------------
# Zipfian-vocabulary fixture + sequence packing (r10)
# ---------------------------------------------------------------------------


def test_zipf_corpus_cross_engine(spark):
    """The Zipfian corpus renders byte-identically in Spark and DuckDB
    (the property every zipf-twin oracle rests on)."""
    import duckdb

    from real_estate_etl_dev_spark.plans.llmdata import _ZIPF_CTE, _zipf_docs

    sdf = (
        _zipf_docs(spark, "/root/testdata/sf0.001")
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    ddf = con.execute(
        "WITH " + _ZIPF_CTE + "SELECT doc_id, lang, text FROM zipfcorpus "
        "ORDER BY doc_id"
    ).df()
    assert len(sdf) == len(ddf) > 500
    assert (sdf["doc_id"].values == ddf["doc_id"].values).all()
    assert (sdf["text"].values == ddf["text"].values).all()
    # long-tail shape: thousands of token types, none dominating
    toks = " ".join(ddf["text"]).split(" ")
    types = set(toks)
    assert len(types) > 2000
    from collections import Counter

    assert Counter(toks).most_common(1)[0][1] < len(toks) // 100


def test_setsim_hybrid_equals_exact_on_zipf(spark):
    """On the realistic (sparse-vocabulary) corpus the hot-token
    router must IDLE at the production cap — no bucket is hot, the
    hybrid equals the exact PPJoin verbatim, and both find the
    planted pairs.  The router is for boilerplate pathology, not a
    tax on healthy corpora (VERDICT r09 item 5)."""
    from real_estate_etl_dev_spark.operators.dedup import (
        setsim_bucket_audit,
        setsim_join_hybrid,
        setsim_join_prefix,
    )
    from real_estate_etl_dev_spark.plans.llmdata import _zipf_docs

    docs = _zipf_docs(spark, "/root/testdata/sf0.001").localCheckpoint()
    audit = setsim_bucket_audit(docs, threshold=0.9, top_k=1).collect()[0]
    assert audit["bucket_n"] <= 20, "zipf fixture grew a hot bucket"
    key = lambda r: (r.a, r.b, r.jaccard)  # noqa: E731
    exact = sorted(map(key, setsim_join_prefix(docs, threshold=0.9).collect()))
    hybrid = sorted(
        map(
            key,
            setsim_join_hybrid(
                docs, threshold=0.9, hot_bucket_cap=20
            ).collect(),
        )
    )
    assert hybrid == exact and len(exact) > 50


def test_zipf_candidate_mass_below_dense(spark):
    """The prune proof VERDICT r09 item 5 asked for: the SAME prefix
    expansion that floods on the dense fixture is orders of magnitude
    lighter on the Zipfian one (measured at sf0.001: 679 vs 85,043
    naive candidate pairs; hottest bucket 4 docs vs 403)."""
    from real_estate_etl_dev_spark.operators.dedup import setsim_bucket_audit
    from real_estate_etl_dev_spark.plans.llmdata import (
        _augmented_docs,
        _zipf_docs,
    )

    sf = "/root/testdata/sf0.001"
    zipf = setsim_bucket_audit(_zipf_docs(spark, sf), threshold=0.9, top_k=1)
    dense = setsim_bucket_audit(
        _augmented_docs(spark, sf), threshold=0.97, top_k=1
    )
    z, d = zipf.collect()[0], dense.collect()[0]
    assert z["total_naive_pairs"] * 20 < d["total_naive_pairs"]
    assert z["bucket_n"] * 20 < d["bucket_n"]


def test_seq_pack_invariants(spark):
    """Next-fit packing invariants at sf0.001: every doc lands in
    exactly one window; no window exceeds the cap unless it is a
    single overflow doc; overflow fires under both counters (planted
    12x docs); the BPE and whitespace packings genuinely differ."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _PACK_CAP,
        seq_pack_bpe_windows,
    )

    rows = seq_pack_bpe_windows(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_windows = {"ws": 0, "bpe": 0}
    n_docs = {"ws": 0, "bpe": 0}
    overflow = {"ws": 0, "bpe": 0}
    for r in rows:
        n_windows[r["counter"]] += 1
        n_docs[r["counter"]] += r["n_docs"]
        overflow[r["counter"]] += r["overflow_docs"]
        if r["window_tokens"] > _PACK_CAP:
            # only a lone overflow doc may exceed the cap
            assert r["n_docs"] == 1 and r["overflow_docs"] == 1, r
    # both counters pack the same document population
    assert n_docs["ws"] == n_docs["bpe"] > 0
    # overflow audit fires under both counters (the planted giants)
    assert overflow["ws"] > 0 and overflow["bpe"] > 0
    # the tokenizer moves the packing: BPE needs far more windows
    assert n_windows["bpe"] > n_windows["ws"] * 2


def test_minhash_zipf_recall_gate(spark):
    """The gate dedup_minhash_pairs_zipf's catalog row will certify in
    r11 (registration deferred one round for window arithmetic — see
    the note above the function): every planted verbatim copy on the
    Zipfian corpus band-collides and survives the verify, per lang."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        dedup_minhash_pairs_zipf,
    )

    rows = dedup_minhash_pairs_zipf(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 3
    for r in rows:
        assert r["all_found"] and r["found_pairs"] == r["injected_pairs"] > 0


def test_semdedup_kmeans_oracle_parity(spark, sf_dir, oracle_sf_dir):
    """The exact compare dedup_semantic_kmeans's catalog row will
    certify in r12 (registration deferred — the r11 window is exactly
    full; see the note above the function), run at BOTH local scales
    now so the deferral carries zero correctness risk."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _semdedup_kmeans_oracle_sql,
        dedup_semantic_kmeans,
    )

    from tests.oracle_harness import compare

    for d in (sf_dir, oracle_sf_dir):
        problems = compare(spark, d, dedup_semantic_kmeans, _semdedup_kmeans_oracle_sql())
        assert not problems, f"{d}: " + "; ".join(problems)


def test_semdedup_kmeans_drops_planted_copies(spark, sf_dir):
    """Every planted perturbed copy (vec_id % 20 == 0, cos ~ 1 with
    its source, larger id by construction) must be caught by the
    greedy drop rule, so total dropped >= planted; bookkeeping must
    balance per cluster."""
    from real_estate_etl_dev_spark.plans.llmdata import dedup_semantic_kmeans
    from real_estate_etl_dev_spark.sources.readers import load_table

    rows = dedup_semantic_kmeans(spark, sf_dir).collect()
    base_n = load_table(spark, sf_dir, "embeddings").count()
    planted = load_table(spark, sf_dir, "embeddings").filter("vec_id % 20 = 0").count()
    assert sum(r["n_members"] for r in rows) == base_n + planted
    assert sum(r["n_dropped"] for r in rows) >= planted > 0
    for r in rows:
        assert r["n_kept"] == r["n_members"] - r["n_dropped"]
        assert r["n_dup_pairs"] >= r["n_dropped"]


def test_lloyd_assignments_stays_in_sync_with_lloyd_kmeans(spark, sf_dir):
    """lloyd_assignments duplicates lloyd_kmeans's exact-decimal loop
    (deliberately — the certified operator is untouchable in a
    full-window round; see its docstring).  This is the MECHANICAL
    sync guard the duplication needs: centroids + member counts
    recomputed FROM the assignment with the same decimal recipe must
    equal lloyd_kmeans's output cell for cell, so any future edit to
    one copy that diverges the recurrence fails here instead of
    surfacing as a silent oracle drift in r12."""
    from real_estate_etl_dev_spark.operators.similarity import (
        lloyd_assignments,
        lloyd_kmeans,
    )
    from real_estate_etl_dev_spark.sources.readers import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    expect = {
        (r["cluster"], r["pos"]): (r["c"], r["n_members"])
        for r in lloyd_kmeans(vecs, k=4, iterations=3).collect()
    }
    assign = lloyd_assignments(vecs, k=4, iterations=3)
    dec = "decimal(12,8)"
    cells = vecs.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double").cast(dec))
        ).alias("pos", "val"),
    )
    got = {
        (r["cluster"], r["pos"]): (r["c"], r["n_members"])
        for r in cells.join(assign, "vid")
        .groupBy("cluster", "pos")
        .agg(
            F.round(
                (F.sum("val").cast("double") / F.count(F.lit(1)))
                .cast(dec)
                .cast("double"),
                6,
            ).alias("c"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .collect()
    }
    assert got == expect


def test_lloyd_assignments_rejects_zero_iterations(spark, sf_dir):
    from real_estate_etl_dev_spark.operators.similarity import lloyd_assignments
    from real_estate_etl_dev_spark.sources.readers import load_table

    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        lloyd_assignments(load_table(spark, sf_dir, "embeddings"), iterations=0)


def test_bpe_learn_oracle_parity(spark, sf_dir, oracle_sf_dir):
    """The exact compare bpe_learn_merges's catalog row will certify
    in r13 (registration deferred — see the note above the function),
    run at BOTH local scales now so the deferral carries zero
    correctness risk."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _bpe_learn_oracle_sql,
        bpe_learn_merges,
    )

    from tests.oracle_harness import compare

    for d in (sf_dir, oracle_sf_dir):
        problems = compare(spark, d, bpe_learn_merges, _bpe_learn_oracle_sql())
        assert not problems, f"{d}: " + "; ".join(problems)


def test_bucket_audit_r14_oracle_twin(spark, sf_dir, oracle_sf_dir):
    """Pin for the `dedup_bucket_audit` two-discriminator oracle
    (staged r12, SWAPPED IN r14 — the registered oracle now IS
    _BUCKET_AUDIT_ORACLE_R14, so the equality leg below is the
    wiring check that the registration references the hardened text):
    row count AND sum(n_chars) key the skip branch, and the Spark
    plan must match the oracle cell-for-cell at both certification
    scales.  Also pins the discriminator fact that motivated the
    swap: the two cert corpora share row count 572 but differ in char
    mass, so a count-only key genuinely cannot tell fixtures apart."""
    import os

    from real_estate_etl_dev_spark.plans.catalog import oracle_sqls
    from real_estate_etl_dev_spark.plans.llmdata import (
        _AUG_CTE,
        _BUCKET_AUDIT_ORACLE_R14,
        dedup_bucket_audit_q,
    )

    from tests.oracle_harness import compare, duckdb_conn

    # same env override the sibling bench-scale tests honor
    bench_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    facts = {}
    for d in (sf_dir, oracle_sf_dir, bench_dir):
        con = duckdb_conn(d)
        cur = con.execute(oracle_sqls()["dedup_bucket_audit"]).fetchall()
        r14 = con.execute(_BUCKET_AUDIT_ORACLE_R14).fetchall()
        assert cur == r14, f"{d}: r14 oracle diverges from certified"
        # the REAL corpus CTE, not a copy — the discriminator facts
        # must be measured over exactly what the oracle keys on
        facts[d] = con.execute(
            f"WITH {_AUG_CTE} SELECT count(*), sum(n_chars) FROM corpus"
        ).fetchone()
    # same row count at both cert scales, different char mass: the
    # second discriminator separates what the first cannot
    (c1, n1), (c2, n2) = facts[sf_dir], facts[oracle_sf_dir]
    assert c1 == c2 == 572 and n1 != n2
    assert facts[bench_dir] == (5715, 1699740)

    for d in (sf_dir, oracle_sf_dir):
        problems = compare(
            spark, d, dedup_bucket_audit_q, _BUCKET_AUDIT_ORACLE_R14
        )
        assert not problems, f"{d}: " + "; ".join(problems)


def test_bpe_learn_unicode_line_separators(spark, tmp_path):
    """ADVICE r11 item 1 pinned: Java regex ``'.'`` skips NEL / LINE
    SEPARATOR / PARAGRAPH SEPARATOR while DuckDB RE2's ``'.'``
    matches them, so before r12 a corpus containing U+0085 / U+2028 /
    U+2029 diverged silently between the Spark plan and the oracle
    (Spark dropped them from the token stream, DuckDB kept them as
    symbols).  The widened pre-strip maps all three to space on BOTH
    engines; this fixture — which the ASCII committed corpora could
    never exercise — runs the full learner cross-engine on texts
    where the separators sit between would-be top pairs."""
    import os

    from real_estate_etl_dev_spark.plans.llmdata import (
        _bpe_learn_oracle_sql,
        bpe_learn_merges,
    )

    from tests.conftest import SF_SMALL
    from tests.oracle_harness import compare

    sep = ["\u0085", "\u2028", "\u2029"]
    texts = [
        # 'ab' pairs straddle each separator: if either engine kept
        # the separator as a symbol, its pair counts (and therefore
        # the argmax sequence) would differ from the other's
        "ab" + sep[0] + "ab cd" + sep[1] + "cd",
        "ab" + sep[2] + "ab xy xy",
        "cd ab" + sep[0] + "cd ab",
    ]
    def make_fixture(dirname, docs):
        # single-FILE parquet (pyarrow): the oracle side reads the
        # path directly, and Spark reads single files fine; a
        # spark.write would produce a directory DuckDB can't open
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = str(tmp_path / dirname)
        os.makedirs(d)
        for name in os.listdir(SF_SMALL):
            if name != "documents.parquet":
                os.symlink(
                    os.path.join(SF_SMALL, name), os.path.join(d, name)
                )
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        range(len(docs)), type=pa.int64()
                    ),
                    "text": pa.array(docs, type=pa.string()),
                    "lang": pa.array(["en"] * len(docs)),
                    "source": pa.array(["test"] * len(docs)),
                    "n_chars": pa.array(
                        [len(t) for t in docs], type=pa.int64()
                    ),
                }
            ),
            os.path.join(d, "documents.parquet"),
        )
        return d

    fixture = make_fixture("bpe_unicode", texts)
    problems = compare(spark, fixture, bpe_learn_merges, _bpe_learn_oracle_sql())
    assert not problems, "; ".join(problems)

    # and the semantic claim: separators behave exactly like spaces
    spaced = texts
    for s in sep:
        spaced = [t.replace(s, " ") for t in spaced]
    twin = make_fixture("bpe_spaced", spaced)
    got = [tuple(r) for r in bpe_learn_merges(spark, fixture).collect()]
    want = [tuple(r) for r in bpe_learn_merges(spark, twin).collect()]
    assert got == want and got, (got, want)


# The exact length filter in the JOIN of the two set-similarity
# oracles: J(A, B) <= min(|A|, |B|) / max(|A|, |B|), so a pair with
# 100 * min < 97 * max cannot reach Jaccard 0.97 and the filter drops
# only pairs the WHERE rejects anyway.
_SETSIM_LENGTH_FILTER = (
    "\n     AND 100 * least(len(a.s), len(b.s)) >= 97 * greatest(len(a.s), len(b.s))"
)


@pytest.mark.parametrize("name", ["dedup_setsim_prefix", "dedup_setsim_hybrid"])
def test_setsim_oracle_equals_quadratic_form(sf_dir, name):
    """The registered oracle returns exactly the rows, in order, of its
    quadratic all-pairs form (the reference: the same SQL without the
    length filter)."""
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    from tests.oracle_harness import oracle_rows

    sql = CATALOG[name].oracle
    assert _SETSIM_LENGTH_FILTER in sql
    quadratic = sql.replace(_SETSIM_LENGTH_FILTER, "")
    got, want = oracle_rows(sf_dir, sql), oracle_rows(sf_dir, quadratic)
    assert got == want and got[1], name
