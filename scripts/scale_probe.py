#!/usr/bin/env python
"""Dedup-family scale probe BEYOND the largest test zone: replicate the
sf0.1 documents corpus k× (per-replica id offset + a per-replica
suffix word, so replicas are NEAR-dups, not byte-dups) and measure the
exact-dedup, MinHash-banding, and connected-components stages at
5k → 160k docs on the same box.

The point is the GROWTH SHAPE, not the absolute numbers: each stage's
wall-clock should grow ~linearly with corpus size (hash-partitioned
shuffles, bounded buckets, diameter-bounded iteration) — a
super-linear bend would flag a pair explosion or a hot bucket the
audits missed.

Run:  python scripts/scale_probe.py   (prints a markdown table;
      paste/update SCALE.md §5's measured block)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from real_estate_etl_dev_spark.benchmeta import scratch_dir  # noqa: E402
from real_estate_etl_dev_spark.session import get_spark  # noqa: E402
from real_estate_etl_dev_spark.operators.dedup import (  # noqa: E402
    connected_components,
    dedup_exact_groups,
    dedup_minhash_pairs,
    setsim_bucket_audit,
    setsim_join_hybrid,
    setsim_join_prefix,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _check(cond: bool, label: str, *info) -> None:
    """Probe correctness gate.  NOT a bare ``assert`` (ADVICE r12
    item 4): these checks are committed evidence — under ``python -O``
    an assert is stripped and a broken probe would still print its
    success table.  Raise explicitly so the probe fails loudly on any
    interpreter."""
    if not cond:
        raise RuntimeError(f"scale_probe check failed: {label}: {info}")


def replicated(spark, k: int):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    reps = spark.range(k).select(F.col("id").alias("rep"))
    return (
        docs.crossJoin(reps)  # k-row side: replica fan-out, not a pair join
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" rep"), F.col("rep")))
            .alias("text"),
        )
    )


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(
        "| docs | exact-dedup s | minhash-pairs s (pairs) | cc s (comps) "
        "| setsim-audit s (naive pairs / hot bucket) |"
    )
    print("|---|---|---|---|---|")
    for k in (1, 4, 16, 32):
        corpus = replicated(spark, k).localCheckpoint()  # time stages, not the fan-out
        n = corpus.count()

        t0 = time.perf_counter()
        dedup_exact_groups(corpus).count()
        t_exact = time.perf_counter() - t0

        t0 = time.perf_counter()
        pairs = dedup_minhash_pairs(
            corpus, threshold=0.5, seed=42, shingle_n=3, num_hashes=3,
            max_bucket=64,
        ).select("id_a", "id_b").localCheckpoint()
        n_pairs = pairs.count()
        t_mh = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_comp = connected_components(pairs, "id_a", "id_b").select(
            "comp"
        ).distinct().count()
        t_cc = time.perf_counter() - t0

        # The per-replica suffix word is a PLANTED hot prefix token —
        # exactly the boilerplate-token failure mode that makes the
        # uncapped PPJoin prefix filter blow up silently at corpus
        # scale.  The audit must (a) stay cheap (one expansion + one
        # agg, never the candidate join) and (b) make the blowup
        # visible: naive-pair mass grows ~quadratically in replica
        # size while the capped MinHash tier stays bounded.
        t0 = time.perf_counter()
        aud = (
            setsim_bucket_audit(corpus, threshold=0.97, top_k=1)
            .collect()
        )
        t_aud = time.perf_counter() - t0
        naive = aud[0]["total_naive_pairs"] if aud else 0
        hot = aud[0]["bucket_n"] if aud else 0

        print(
            f"| {n:,} | {t_exact:.1f} | {t_mh:.1f} ({n_pairs:,}) "
            f"| {t_cc:.1f} ({n_comp:,}) | {t_aud:.1f} ({naive:,} / {hot:,}) |",
            flush=True,
        )

    hybrid_vs_exact(spark)
    bloom_vs_exact(spark)
    streaming_ann_probe(spark)
    tpch_growth_probe(spark)
    merge_growth_probe(spark)
    streaming_probe(spark)
    streaming_state_probe(spark)
    zipf_ppjoin_growth_probe(spark)
    zipf_minhash_growth_probe(spark)
    semdedup_growth_probe(spark)
    bpe_learn_growth_probe(spark)
    curation_funnel_growth_probe(spark)
    dsir_growth_probe(spark)


def merge_growth_probe(spark) -> None:
    """VERDICT r09 item 4: the batch merge engine's growth shape on
    16× the ROW MASS (the streaming probe next door grows batch
    COUNT; this one grows the rows a single merge swallows).  Both
    sides replicate k× into disjoint url namespaces, so the merge is
    an exact k-fold tiling of the k=1 merge — output rows scale
    exactly k×, change/insert mix fixed — and the only thing allowed
    to grow is the url-keyed full-outer shuffle (current side + the
    staging side; both map-side partitioned, no window, no
    broadcast-side growth).  A superlinear bend would mean the change
    detection or tab re-classification secretly does per-key
    quadratic work."""
    from real_estate_etl_dev_spark.operators.merge import merge_listings
    from real_estate_etl_dev_spark.plans.merging import (
        RUN_DATE,
        current_fixture,
        staging_fixture,
    )

    print()
    print("| current+staging rows | merge wall s | output rows |")
    print("|---|---|---|")
    cur0 = current_fixture(spark, SF_DIR)
    stg0 = staging_fixture(spark, SF_DIR)
    for k in (1, 4, 16):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        cur = (
            cur0.crossJoin(reps)
            .withColumn("url", F.concat_ws("#", "url", "rep"))
            .drop("rep")
            .localCheckpoint()
        )
        stg = (
            stg0.crossJoin(reps)
            .withColumn("url", F.concat_ws("#", "url", "rep"))
            .drop("rep")
            .localCheckpoint()
        )
        n_in = cur.count() + stg.count()
        t0 = time.perf_counter()
        n_out = merge_listings(cur, stg, run_date=RUN_DATE).count()
        wall = time.perf_counter() - t0
        print(f"| {n_in:,} | {wall:.1f} | {n_out:,} |", flush=True)


def tpch_growth_probe(spark) -> None:
    """r09: growth shape of the CERTIFIED TPC-H plans (not probe
    re-implementations — the catalog functions run against a tempdir
    fixture whose lineitem/orders are replicated kx with disjoint
    orderkeys; dims unchanged, so join fan-out and group cardinality
    hold while fact mass grows).  Q9 (six-table profit — the widest
    fact chain) and Q10 (returned-item top-20) should grow ~linearly
    in lineitem bytes: their per-row work is map-side joins + one
    partial agg; the derived-partsupp distinct is the only
    fact-derived shuffle and also grows linearly."""
    from real_estate_etl_dev_spark.plans.catalog import CATALOG
    from real_estate_etl_dev_spark.sources.readers import load_table

    print()
    print("| lineitem rows | q9 s (rows) | q10 s | q20 s |")
    print("|---|---|---|---|")
    for k in (1, 4, 16):
        with scratch_dir(f"tpch_scale_{k}_") as workdir:
            reps = spark.range(k).select(F.col("id").alias("rep"))
            li = load_table(spark, SF_DIR, "lineitem")
            o = load_table(spark, SF_DIR, "orders")
            (
                li.crossJoin(reps)  # k-row side: replica fan-out
                .withColumn(
                    "l_orderkey",
                    F.col("l_orderkey") + F.col("rep") * F.lit(10**12).cast("long"),
                )
                .drop("rep")
                .write.parquet(f"{workdir}/lineitem.parquet")
            )
            (
                o.crossJoin(reps)
                .withColumn(
                    "o_orderkey",
                    F.col("o_orderkey") + F.col("rep") * F.lit(10**12).cast("long"),
                )
                .drop("rep")
                .write.parquet(f"{workdir}/orders.parquet")
            )
            for t in ("part", "supplier", "nation", "region", "customer"):
                load_table(spark, SF_DIR, t).write.parquet(f"{workdir}/{t}.parquet")
            n_li = spark.read.parquet(f"{workdir}/lineitem.parquet").count()

            t0 = time.perf_counter()
            n9 = CATALOG["product_profit_q9"].fn(spark, workdir).count()
            t9 = time.perf_counter() - t0
            t0 = time.perf_counter()
            CATALOG["returned_item_reporting_q10"].fn(spark, workdir).count()
            t10 = time.perf_counter() - t0
            t0 = time.perf_counter()
            CATALOG["potential_promotion_q20"].fn(spark, workdir).count()
            t20 = time.perf_counter() - t0
        print(
            f"| {n_li:,} | {t9:.1f} ({n9:,}) | {t10:.1f} | {t20:.1f} |",
            flush=True,
        )


def streaming_ann_probe(spark) -> None:
    """VERDICT r08 item 3: per-TRIGGER scan cost of the streaming ANN
    enrichment, exact vs IVF, as the corpus grows.  One availableNow
    trigger processes an 8-query batch; the exact variant scores
    |batch| x |corpus| pairs per trigger while the IVF variant scores
    only the probed cells' mass (n_probe/n_centroids of the corpus in
    expectation).  The index build is timed separately — it is the
    amortized setup cost, paid once across all triggers.  Candidate
    counts are deterministic; walls carry machine noise."""
    from real_estate_etl_dev_spark.operators.similarity import (
        cosine_topk,
        ivf_index,
        ivf_scored_from_cells,
        ivf_search,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    queries = emb.filter(F.col("vec_id") < 8).localCheckpoint()

    print()
    print(
        "| corpus | exact cand/trigger | exact s | ivf cand/trigger "
        "| ivf s | index-build s |"
    )
    print("|---|---|---|---|---|---|")
    for k in (1, 4, 16):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        corpus = (
            emb.crossJoin(reps)  # k-row side: replica fan-out
            .select(
                (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
                "embedding",
            )
            .localCheckpoint()
        )
        n = corpus.count()

        t0 = time.perf_counter()
        exact_cand = n * 8 - 8  # broadcast(q) x corpus minus self-matches
        cosine_topk(corpus, queries, k=5).count()
        t_exact = time.perf_counter() - t0

        t0 = time.perf_counter()
        assigned, centers = ivf_index(
            corpus, n_centroids=8, seed=42, max_iter=4
        )
        assigned = assigned.localCheckpoint()
        t_index = time.perf_counter() - t0

        # probed candidate mass: the scored frame pre-rank
        q8 = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
        )
        from pyspark.sql import Window as _W
        from real_estate_etl_dev_spark.operators.similarity import cosine

        qc = q8.join(F.broadcast(centers))
        wq = _W.partitionBy("query_id").orderBy(
            F.desc(cosine(F.col("__qvec"), F.col("__center"))),
            F.asc("__cell"),
        )
        probes = (
            qc.withColumn("__cr", F.row_number().over(wq))
            .filter(F.col("__cr") <= 2)
            .select("query_id", "__qvec", "__cell")
        )
        ivf_cand = ivf_scored_from_cells(assigned, probes).count()

        t0 = time.perf_counter()
        ivf_search(assigned, centers, queries, k=5, n_probe=2).count()
        t_ivf = time.perf_counter() - t0

        print(
            f"| {n:,} | {exact_cand:,} | {t_exact:.1f} | {ivf_cand:,} "
            f"| {t_ivf:.1f} | {t_index:.1f} |",
            flush=True,
        )


def bloom_vs_exact(spark) -> None:
    """The dedup_bloom_prefilter claim, measured on its own growth
    axis: the SEEN corpus is fixed (8× sf0.1 ≈ 40k docs; its filter
    is built ONCE — a 100 TB corpus pays this linear scan once, then
    amortizes it over every future batch), while the INCOMING batch
    grows k× with a ~fixed true-duplicate mass (re-scrapes don't grow
    with frontier size; novel URLs do).  The observable that matters
    at scale is the VERIFY MASS: how many rows still need the exact
    seen-set join after the bloom gate.  Exact path: all of incoming.
    Bloom path: dups + false positives — near-flat while incoming
    grows 32×.  That mass is what decides whether the verify side
    still BROADCASTS against the corpus scan (map-side semi join, no
    100 TB shuffle) or degenerates into a full two-sided shuffle —
    the same go/no-go observable pattern as setsim_bucket_audit."""
    from real_estate_etl_dev_spark.operators.bloom import (
        bloom_bits,
        bloom_probe,
        md5_key,
    )

    m, kh = 2**20, 4
    seen = (
        replicated(spark, 8)
        .select(md5_key("text").alias("key"))
        .distinct()
        .localCheckpoint()
    )
    n_seen = seen.count()
    t0 = time.perf_counter()
    bits = bloom_bits(seen, "key", m, kh).localCheckpoint()
    n_bits = bits.count()
    t_build = time.perf_counter() - t0
    print()
    print(
        f"seen corpus {n_seen:,} keys; bloom build (once, amortized): "
        f"{t_build:.1f}s, {n_bits:,} bits set of m=2^20, k=4"
    )
    print(
        "| incoming | exact semi s (dups) "
        "| bloom check s | verify mass after gate (vs incoming) |"
    )
    print("|---|---|---|---|")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    for k in (1, 4, 16, 32):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        novel = base.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.concat("text", F.lit(" fresh"), F.col("rep")).alias("text"),
        )
        dups = base.filter(F.col("doc_id") % 10 == 0)
        incoming = (
            novel.unionByName(dups)
            .select("doc_id", md5_key("text").alias("key"))
            .localCheckpoint()
        )
        n_in = incoming.count()

        t0 = time.perf_counter()
        n_dup = incoming.join(seen, "key", "left_semi").count()
        t_exact = time.perf_counter() - t0

        t0 = time.perf_counter()
        verdicts = bloom_probe(incoming, "key", bits, m, kh)
        pos = verdicts.filter(F.col("bloom_positive")).localCheckpoint()
        n_pos = pos.count()
        n_confirmed = pos.join(seen, "key", "left_semi").count()
        t_check = time.perf_counter() - t0
        # Row-count equality is sound because incoming's doc_ids are
        # distinct (no fully-identical rows) and bloom_probe keeps one
        # verdict per distinct probe ROW — duplicate texts under
        # different doc_ids each survive the gate (operators/bloom.py
        # bloom_probe docstring).
        _check(n_confirmed == n_dup, "bloom confirmed == exact dups",
                n_confirmed, n_dup)

        print(
            f"| {n_in:,} | {t_exact:.1f} ({n_dup:,}) "
            f"| {t_check:.1f} | {n_pos:,} ({100.0 * n_pos / n_in:.2f}%) |",
            flush=True,
        )


def hybrid_vs_exact(spark) -> None:
    """VERDICT r07 item 3's scale column, with the trade-off made
    EXPLICIT: on this corpus EVERY doc shares the 40-word vocabulary,
    so the hot mass is genuinely mutually similar — the inherently
    quadratic case where no pair-enumeration is cheap (a 160k-doc
    corpus of near-identical pages has ~quadratically many REAL
    near-dup pairs).  The hybrid's cap bounds cost anyway (flat-ish
    column) and its audit REPORTS what the cap skipped
    (pairs_skipped): bounded work, measured recall loss.  The
    complementary fixture — hot boilerplate tokens across otherwise
    DISSIMILAR docs, where the hybrid wins on BOTH axes (skips ≈ 0,
    recall certified) — is the catalog's `dedup_setsim_hybrid`
    salted corpus with its brute-force oracle.  Here the exact join
    is run at every k as the control; its growth tracks the audit's
    naive-pair mass."""
    from real_estate_etl_dev_spark.operators.dedup import (
        setsim_hybrid_hot_audit,
    )

    print()
    print(
        "| docs | exact setsim s (pairs) "
        "| hybrid setsim s (pairs / cap-skipped pair mass) |"
    )
    print("|---|---|---|")
    for k in (1, 4, 16):
        corpus = replicated(spark, k).localCheckpoint()
        n = corpus.count()
        t0 = time.perf_counter()
        n_ex = setsim_join_prefix(corpus, threshold=0.97).count()
        ex = f"{time.perf_counter() - t0:.1f} ({n_ex:,})"
        t0 = time.perf_counter()
        params = dict(
            threshold=0.97,
            hot_bucket_cap=64,
            num_hashes=8,
            band_rows=2,
            minhash_max_bucket=1000,
        )
        n_hy = setsim_join_hybrid(corpus, **params).count()
        t_hy = time.perf_counter() - t0
        skipped = sum(
            r.pairs_skipped
            for r in setsim_hybrid_hot_audit(corpus, **params).collect()
        )
        print(
            f"| {n:,} | {ex} | {t_hy:.1f} ({n_hy:,} / {skipped:,}) |",
            flush=True,
        )


def streaming_probe(spark) -> None:
    """VERDICT r07 item 5: measure the streaming tier's constant-vs-
    linear split instead of arguing it.  k replicas of the staging
    fixture (disjoint url namespaces) land as k files; availableNow +
    maxFilesPerTrigger=1 forces k micro-batches through the SAME
    foreachBatch merge engine as streaming_merge_scd1.  Wall clock
    should be ~(fixed session cost) + k · (per-batch merge + trigger
    overhead) — a superlinear bend would mean state or the current
    table re-scan grows with batch COUNT, which the merge design
    forbids."""
    from real_estate_etl_dev_spark.plans.merging import (
        RUN_DATE,
        current_fixture,
        staging_fixture,
    )
    from real_estate_etl_dev_spark.streaming.ingest import (
        run_merge_sink,
        stream_source,
    )

    print()
    print("| micro-batches | staged rows | stream-merge wall s | s/batch |")
    print("|---|---|---|---|")
    cur = current_fixture(spark, SF_DIR).localCheckpoint()
    stg = staging_fixture(spark, SF_DIR).localCheckpoint()
    for k in (1, 4, 16):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        staged = (
            stg.crossJoin(reps)
            .withColumn("url", F.concat_ws("#", "url", "rep"))
            .drop("rep")
        )
        n_rows = staged.count()
        with scratch_dir(f"stream_probe_{k}_") as workdir:
            staged.repartition(k).write.parquet(f"{workdir}/staging")

            t0 = time.perf_counter()
            stream = stream_source(
                spark,
                f"{workdir}/staging",
                staged.schema,
                fmt="parquet",
                maxFilesPerTrigger=1,
            )

            def publish(df, batch_id, out=f"{workdir}/merged"):
                df.write.mode("overwrite").parquet(out)

            q = run_merge_sink(
                stream,
                lambda: cur,
                publish,
                run_date=RUN_DATE,
                checkpoint=f"{workdir}/checkpoint",
            )
            wall = time.perf_counter() - t0
        n_batches = len(q.recentProgress)
        print(
            f"| {n_batches} | {n_rows:,} | {wall:.1f} "
            f"| {wall / max(n_batches, 1):.2f} |",
            flush=True,
        )


def streaming_state_probe(spark) -> None:
    """VERDICT r10 item 5a: does streaming-dedup STATE stay bounded by
    the watermark while the stream grows 16×?  The growth axis is the
    TIME axis (k month-long event segments, disjoint event_id
    namespaces, each event delivered twice) — not row replication at
    one timestamp, which would legitimately grow in-horizon state.
    ``dropDuplicatesWithinWatermark`` on event_id with a 2-DAY delay
    (the catalog query pins correctness with an everything-in-horizon
    delay; this probe measures the production posture where state
    EXPIRES).  Segments are written oldest-first so the file source's
    mtime order advances the watermark monotonically batch over
    batch, expiring all but the trailing 2 days of the previous
    segment.  Observable: max ``numRowsTotal`` across micro-batch
    progress — it should stay ~|one segment's keys| + the 2-day
    residue (~107k here) while TOTAL input grows 16× (state cap would
    read ~1.6M keys at k=16 if nothing expired)."""
    from pyspark.sql.streaming import StreamingQueryListener

    from real_estate_etl_dev_spark.sources.readers import load_table
    from real_estate_etl_dev_spark.streaming.ingest import memory_sink, stream_source

    progress = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    base = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type"
    )
    print()
    print(
        "| segments | input rows | deduped out | micro-batches "
        "| max state rows | wall s |"
    )
    print("|---|---|---|---|---|---|")
    for k in (1, 4, 16):
        with scratch_dir(f"stream_state_{k}_") as workdir:
            drop_dir = f"{workdir}/incoming"
            for seg in range(k):
                segdf = base.select(
                    (F.col("event_id") + seg * 10**9).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {seg * 31} DAYS")).alias("ts"),
                    "event_type",
                )
                segdf = segdf.unionByName(segdf)  # every event delivered twice
                # sequential appends => mtime order == event-time order
                segdf.repartition(2).write.mode("append").parquet(drop_dir)
            n_in = spark.read.parquet(drop_dir).count()

            stream = stream_source(
                spark, drop_dir, base.schema, fmt="parquet", maxFilesPerTrigger=2
            )
            deduped = stream.withWatermark(
                "ts", "2 days"
            ).dropDuplicatesWithinWatermark(["event_id"])
            bus.waitUntilEmpty()
            progress.clear()
            t0 = time.perf_counter()
            with memory_sink(deduped, f"{workdir}/checkpoint", "append") as sink:
                wall = time.perf_counter() - t0
                n_out = sink.count()
        bus.waitUntilEmpty()  # every progress event delivered
        state_rows = [op.numRowsTotal for p in progress for op in p.stateOperators]
        print(
            f"| {k} | {n_in:,} | {n_out:,} | {len(progress)} "
            f"| {max(state_rows) if state_rows else 0:,} | {wall:.1f} |",
            flush=True,
        )
    spark.streams.removeListener(listener)


def zipf_corpus_at(spark, k: int):
    """k disjoint doc_id namespaces through the SAME LCG text
    generator as plans/llmdata.py:_zipf_docs — new ids draw FRESH
    documents from the same harmonic ~5k-type vocabulary (the corpus
    genuinely grows; replicas would plant fake exact dups), then the
    same %7 exact-copy / %11 near-copy planting per namespace.
    Shared by zipf_ppjoin_growth_probe (which asserts k=1 equality
    with the certified fixture's text multiset every run) and
    zipf_minhash_growth_probe.  Kept in the script so the certified
    module stays untouched."""
    from real_estate_etl_dev_spark.sources.readers import load_table

    ids = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    if k > 1:
        reps = spark.range(k).select(F.col("id").alias("rep"))
        ids = ids.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            "lang",
        )
    A = F.lit(1103515245).cast("long")
    M = F.lit(2147483648).cast("long")
    d = F.col("doc_id")

    def tok(i):
        # reduce x mod M BEFORE the multiply: A*(x%M)+c ≡ A*x+c
        # (mod M), so h1/h2 are identical for every doc_id, but
        # A*x no longer overflows int64 once replica namespaces
        # push doc_id past ~8e9/A (the certified fixture's ids
        # are <5000, where the reduction is a no-op)
        x = (d * 131 + i) % M
        h1 = (A * x + 12345) % M
        h2 = (A * h1 + 12345) % M
        cap = F.shiftright(h2, 16) % 4999 + 1
        tid = F.shiftright(h1, 16) % cap
        return F.concat(F.lit("z"), tid.cast("string"))

    n_hi = F.lit(23).cast("long") + (d * 7919) % 17
    basedf = ids.select(
        "doc_id",
        "lang",
        F.array_join(
            F.transform(F.sequence(F.lit(0).cast("long"), n_hi), tok), " "
        ).alias("text"),
    )
    off = F.broadcast(
        basedf.agg(
            F.greatest(F.lit(1_000_000_000), F.max("doc_id") + 1).alias("_off")
        )
    )
    exact = (
        basedf.filter(d % 7 == 0)
        .crossJoin(off)
        .select((d + F.col("_off")).alias("doc_id"), "lang", "text")
    )
    near = (
        basedf.filter((d % 7 != 0) & (d % 11 == 0))
        .crossJoin(off)
        .select(
            (d + 2 * F.col("_off")).alias("doc_id"),
            "lang",
            F.concat("text", F.lit(" q"), d.cast("string")).alias("text"),
        )
    )
    return basedf.unionByName(exact).unionByName(near)


def zipf_minhash_growth_probe(spark) -> None:
    """Growth evidence for `dedup_minhash_pairs_zipf` (built r10,
    registers r12), the same pre-registration leg the SemDeDup row
    has: MinHash banding on the GROWING Zipfian corpus — fresh
    documents per namespace (Heaps-flavored: vocabulary use grows
    with the corpus), so band buckets stay sparse and pair output is
    dominated by the planted dups, unlike the dense-replica probe in
    main() whose output explodes quadratically BY DESIGN.  Expect:
    wall ~linear in docs, planted J=1 recall exactly 100% at every
    size (J=1 ⇒ identical signatures ⇒ all bands collide —
    deterministic, the query's certified gate)."""
    print()
    print(
        "| docs | minhash wall s | pairs out | planted J=1 found/expected |"
    )
    print("|---|---|---|---|")
    for k in (1, 4, 16):
        corpus = zipf_corpus_at(spark, k).localCheckpoint()
        n = corpus.count()
        expected = corpus.filter(
            (F.col("doc_id") < 1_000_000_000) & (F.col("doc_id") % 7 == 0)
        ).count()
        t0 = time.perf_counter()
        pairs = dedup_minhash_pairs(
            corpus, threshold=0.5, seed=42, shingle_n=3, num_hashes=3
        ).localCheckpoint()
        n_pairs = pairs.count()
        wall = time.perf_counter() - t0
        # planted exact copies live at id + 1e9 (the data-derived
        # namespace offset): count them among the output pairs
        lo = F.least("id_a", "id_b")
        hi = F.greatest("id_a", "id_b")
        found = pairs.filter(
            (hi - lo == 1_000_000_000) & (lo % 7 == 0)
        ).count()
        print(
            f"| {n:,} | {wall:.1f} | {n_pairs:,} | {found:,}/{expected:,} |",
            flush=True,
        )
        _check(found == expected, "zipf minhash recall", found, expected)


def zipf_ppjoin_growth_probe(spark) -> None:
    """VERDICT r10 item 5b: the Zipf PPJoin's candidate mass at 16×
    the corpus — SCALE.md §5 predicts candidates track true-pair
    output ~linearly on a realistic vocabulary (prefix buckets stay
    sparse), unlike the dense 40-word fixture where they are
    quadratic.  Growth axis: k disjoint doc_id namespaces fed through
    the SAME LCG text generator as plans/llmdata.py:_zipf_docs — new
    ids draw FRESH documents from the same harmonic vocabulary
    (corpus genuinely grows; replicas would plant fake exact dups),
    then the same %7 exact-copy / %11 near-copy planting per
    namespace.  Cross-checked at k=1 against the certified fixture
    row-for-row.  Observables: PPJoin candidate pairs (pre-verify),
    true J≥0.9 pairs, naive-pair bound, wall of the full join."""
    from real_estate_etl_dev_spark.operators.dedup import (
        _ppjoin_candidates,
        _setsim_prefixes,
        setsim_join_prefix,
    )
    from real_estate_etl_dev_spark.plans.llmdata import _zipf_docs

    def corpus_at(k: int):
        return zipf_corpus_at(spark, k)

    # k=1 sanity: the script generator must equal the certified fixture
    # in TEXT content (ids differ only in the planted-copy offset,
    # which is data-derived in both: subtractEqual on (lang, text)
    # multisets)
    probe1 = corpus_at(1).groupBy("lang", "text").count()
    cert1 = _zipf_docs(spark, SF_DIR).groupBy("lang", "text").count()
    _check(
        probe1.exceptAll(cert1).isEmpty()
        and cert1.exceptAll(probe1).isEmpty(),
        "probe k=1 corpus == certified zipf corpus",
    )

    print()
    print(
        "| docs | naive pairs | ppjoin candidates | true pairs (J>=0.9) "
        "| cand/true | join wall s | hybrid wall s (pairs / skipped mass) |"
    )
    print("|---|---|---|---|---|---|---|")
    for k in (1, 4, 16):
        corpus = corpus_at(k).localCheckpoint()
        n = corpus.count()
        _, prefixes = _setsim_prefixes(corpus, "doc_id", "text", 0.9)
        n_cand = _ppjoin_candidates(prefixes, 0.9).count()
        t0 = time.perf_counter()
        n_true = setsim_join_prefix(corpus, threshold=0.9).count()
        wall = time.perf_counter() - t0
        # the mitigation, measured on the same corpus: route hot
        # prefix buckets to the capped MinHash tier (bounded work,
        # audited skip) instead of paying the dense equality join
        from real_estate_etl_dev_spark.operators.dedup import (
            setsim_hybrid_hot_audit,
            setsim_join_hybrid,
        )

        params = dict(
            threshold=0.9,
            hot_bucket_cap=64,
            num_hashes=8,
            band_rows=2,
            minhash_max_bucket=1000,
        )
        t0 = time.perf_counter()
        n_hy = setsim_join_hybrid(corpus, **params).count()
        t_hy = time.perf_counter() - t0
        skipped = sum(
            r.pairs_skipped
            for r in setsim_hybrid_hot_audit(corpus, **params).collect()
        )
        print(
            f"| {n:,} | {n * (n - 1) // 2:,} | {n_cand:,} | {n_true:,} "
            f"| {n_cand / max(n_true, 1):.1f} | {wall:.1f} "
            f"| {t_hy:.1f} ({n_hy:,} / {skipped:,}) |",
            flush=True,
        )


def semdedup_growth_probe(spark) -> None:
    """Growth shape of the SemDeDup composition ahead of its r12
    registration (``dedup_semantic_kmeans``, plans/llmdata.py): with
    the cluster count k FIXED, the within-cluster pair stage is
    Σ cluster² — quadratic in corpus size; the published mitigation
    (Abbas et al., 2023 — ~100k clusters for LAION) is k GROWING with
    the corpus so per-cluster occupancy stays flat and candidate mass
    tracks the linearly-growing output.  This probe measures BOTH
    axes on the real embeddings table.

    Fixture: k_rep disjoint vec_id namespaces; each replica's vectors
    get a per-replica CYCLIC COMPONENT SHIFT (a random vector is
    near-orthogonal to its own rotation, so namespaces are NOT mutual
    near-dups — unlike the minhash probe, whose output explosion is
    the point there), then the composition's own +0.02 planting per
    namespace (vec_id % 20), so true-pair mass grows exactly linearly
    in k_rep.  Same exact-decimal Lloyd + normalized-pair plan as the
    composition, parametrized by (corpus, k_clusters).

    Rows: (1×, k=4) the registration-gate shape; (4×, k=4) the
    fixed-k quadratic axis; (16×, k=64) the k∝n mitigation — designed
    so the mitigation row's EXPECTED candidate mass matches the 4×
    fixed-k row (occupancy ~525 vs ~2,100: 64·C(525,2) ≈ 4·C(2100,2)
    /4² … i.e. ~8.8M both) while data is 4× larger."""
    from real_estate_etl_dev_spark.operators.similarity import lloyd_assignments
    from real_estate_etl_dev_spark.plans.llmdata import semdedup_cluster_pairs

    dim = 64
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def corpus_at(k_rep: int):
        c = base
        if k_rep > 1:
            reps = spark.range(k_rep).select(F.col("id").alias("rep"))
            shift = (F.col("rep") % dim).cast("int")
            c = c.crossJoin(reps).select(
                (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
                F.concat(
                    F.slice(F.col("v"), shift + F.lit(1), F.lit(dim)),
                    F.slice(F.col("v"), F.lit(1), shift),
                ).alias("v"),
            )
        planted = c.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
            F.transform("v", lambda x: x * 1.0 + 0.02).alias("v"),
        )
        return c.unionByName(planted).localCheckpoint()

    print(
        "| vectors | k | lloyd s | pair-stage s | Σcluster² (cand bound) "
        "| max cluster | cos≥0.9 pairs | dropped |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for k_rep, k_clusters in ((1, 4), (4, 4), (16, 64)):
        corpus = corpus_at(k_rep)
        n = corpus.count()

        t0 = time.perf_counter()
        assign = lloyd_assignments(
            corpus, id_col="vec_id", vec_col="v", k=k_clusters, iterations=3
        ).localCheckpoint()
        assign.count()
        t_lloyd = time.perf_counter() - t0

        occ = assign.groupBy("cluster").count().collect()
        cand_bound = sum(r["count"] * (r["count"] - 1) // 2 for r in occ)
        max_occ = max(r["count"] for r in occ)

        t0 = time.perf_counter()
        # the composition's OWN pair stage — shared helper, so this
        # probe can never measure a drifted recipe
        pairs = semdedup_cluster_pairs(corpus, assign).localCheckpoint()
        n_pairs = pairs.count()
        n_dropped = pairs.select("id_b").distinct().count()
        t_pairs = time.perf_counter() - t0

        print(
            f"| {n:,} | {k_clusters} | {t_lloyd:.1f} | {t_pairs:.1f} "
            f"| {cand_bound:,} | {max_occ:,} | {n_pairs:,} | {n_dropped:,} |",
            flush=True,
        )


def bpe_learn_growth_probe(spark) -> None:
    """Growth evidence for `bpe_learn_merges` (built r11, registers
    r13): replicate the documents corpus k× with disjoint doc_ids and
    UNCHANGED text — pair statistics scale exactly k×, so the learned
    merge sequence must be IDENTICAL at every size with pair_count
    exactly k× (asserted), and wall should grow ~linearly (the
    per-round shuffle is vocabulary-bounded; only the two corpus map
    passes grow).  A super-linear bend or a diverging merge sequence
    flags a corpus-sized shuffle or a tie-break instability."""
    from real_estate_etl_dev_spark.plans.llmdata import bpe_learn_merges
    from real_estate_etl_dev_spark.sources.readers import load_table

    print()
    print("| docs | wall s | merges (a+b @ count) |")
    print("|---|---|---|")
    base_merges = None
    for k in (1, 4, 16):
        docs = load_table(spark, SF_DIR, "documents")
        if k > 1:
            reps = spark.range(k).select(F.col("id").alias("rep"))
            docs = docs.crossJoin(reps).select(
                (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
                "text",
            )
        with scratch_dir(f"bpe_learn_{k}x_") as tmp:
            docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
            n = docs.count()
            t0 = time.perf_counter()
            rows = bpe_learn_merges(spark, tmp).collect()
            wall = time.perf_counter() - t0
        merges = [(r["step"], r["a"], r["b"]) for r in rows]
        counts = [r["pair_count"] for r in rows]
        if k == 1:
            base_merges, base_counts = merges, counts
        else:
            _check(merges == base_merges, "bpe merges replica-invariant",
                    k, merges, base_merges)
            _check(counts == [c * k for c in base_counts],
                    "bpe pair counts scale exactly k-fold", k, counts)
        desc = " ".join(f"{a}+{b}@{c:,}" for (_, a, b), c in zip(merges, counts))
        print(f"| {n:,} | {wall:.1f} | {desc} |", flush=True)


def next_fit_fold_probe(spark) -> None:
    """ADVICE r10 quantified, r12 updated for the swap (VERDICT r11
    item 2): the ORIGINAL per-doc fold (kept inline here as the
    legacy control — it appended one assignment struct per doc,
    copying the whole accumulator array each step, O(n²) struct
    copies per group) vs the production ``next_fit_windows``
    (per-window stats, scalar running state, one append per CLOSED
    window) vs a no-array scalar twin (final (wid, fill) only — the
    lower bound for any fold over the same recurrence), on ONE group
    of n docs, n = 1k → 64k.  Window counts are asserted identical
    across all three; the legacy column is the measured quadratic
    the swap removed."""
    from real_estate_etl_dev_spark.plans.llmdata import (
        _PACK_CAP,
        next_fit_windows,
    )

    def xs_expr(n: int):
        return F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n - 1).cast("long")),
            lambda i: F.struct(
                i.alias("doc_id"), (i % 97 + 1).cast("long").alias("n_tok")
            ),
        )

    def legacy_fold(xs):
        # the pre-r12 production fold: per-DOC array_append accumulator
        init = F.struct(
            F.lit(-1).cast("long").alias("wid"),
            F.lit(_PACK_CAP + 1).cast("long").alias("fill"),
            F.expr(
                "cast(array() as "
                "array<struct<doc_id:bigint,n_tok:bigint,wid:bigint>>)"
            ).alias("asg"),
        )

        def step(acc, x):
            fits = (acc["fill"] + x["n_tok"]) <= _PACK_CAP
            wid = F.when(fits, acc["wid"]).otherwise(acc["wid"] + 1)
            fill = F.when(fits, acc["fill"] + x["n_tok"]).otherwise(x["n_tok"])
            entry = F.struct(
                x["doc_id"].alias("doc_id"),
                x["n_tok"].alias("n_tok"),
                wid.alias("wid"),
            )
            return F.struct(
                wid.alias("wid"),
                fill.alias("fill"),
                F.array_append(acc["asg"], entry).alias("asg"),
            )

        return F.aggregate(xs, init, step)["asg"]

    def scalar_fold(xs):
        # the same recurrence with NO per-step array: final (wid, fill)
        init = F.struct(
            F.lit(-1).cast("long").alias("wid"),
            F.lit(_PACK_CAP + 1).cast("long").alias("fill"),
        )

        def step(acc, x):
            fits = (acc["fill"] + x["n_tok"]) <= _PACK_CAP
            return F.struct(
                F.when(fits, acc["wid"]).otherwise(acc["wid"] + 1).alias("wid"),
                F.when(fits, acc["fill"] + x["n_tok"])
                .otherwise(x["n_tok"])
                .alias("fill"),
            )

        return F.aggregate(xs, init, step)

    print(
        "| docs in group | legacy per-doc fold s (windows) "
        "| next_fit_windows s (windows) | scalar-state twin s (windows) |"
    )
    print("|---|---|---|---|")
    for n in (1_000, 4_000, 16_000, 64_000):
        one = spark.range(1)
        t0 = time.perf_counter()
        full = one.select(
            F.element_at(legacy_fold(xs_expr(n)), -1)["wid"].alias("w")
        ).collect()[0]["w"]
        t_full = time.perf_counter() - t0
        t0 = time.perf_counter()
        prod = one.select(
            F.size(next_fit_windows(xs_expr(n), _PACK_CAP)).alias("w")
        ).collect()[0]["w"]
        t_prod = time.perf_counter() - t0
        t0 = time.perf_counter()
        scal = one.select(
            scalar_fold(xs_expr(n))["wid"].alias("w")
        ).collect()[0]["w"]
        t_scal = time.perf_counter() - t0
        _check(full == scal == prod - 1,
                "legacy/scalar folds and closed form agree", full, scal, prod)
        print(
            f"| {n:,} | {t_full:.2f} ({full + 1:,}) "
            f"| {t_prod:.2f} ({prod:,}) | {t_scal:.2f} ({scal + 1:,}) |",
            flush=True,
        )



def curation_funnel_growth_probe(spark) -> None:
    """Growth evidence for `corpus_curation_funnel` (built r12,
    registration deferred to an r14+ replacement slot): replicate the
    documents corpus k× with (a) doc_id offsets that are multiples of
    41*7 so the eval-split and srcdup-namespace memberships are
    preserved per replica, and (b) a 1-char per-replica token prefix
    so every fingerprint and every 8-gram is replica-local — the
    funnel at k× is then an exact k-fold tiling of the k=1 funnel:
    every per-lang cell must scale EXACTLY k× (asserted), and wall
    should grow ~linearly (the fingerprint window exchange and the
    gram explode are the only corpus-sized stages; the gram probe's
    broadcast grows with the eval split, k×140 docs here, never the
    corpus).  A super-linear bend would flag a gram-keyed corpus
    shuffle or a fingerprint hot spot the plan pin missed."""
    from real_estate_etl_dev_spark.plans.llmdata import corpus_curation_funnel
    from real_estate_etl_dev_spark.sources.readers import load_table

    print()
    print("| base docs | wall s | sum(n_raw/n_quality/n_dedup/n_clean/tokens_clean) |")
    print("|---|---|---|")
    base = None
    for k in (1, 4, 16):
        docs = load_table(spark, SF_DIR, "documents")
        reps = spark.range(k).select(F.col("id").alias("rep"))
        tagged = (
            docs.crossJoin(reps)
            .select(
                # 287 = 41*7: both split memberships survive the offset
                (F.col("doc_id") + F.col("rep") * F.lit(287 * 100_000)).alias(
                    "doc_id"
                ),
                F.regexp_replace(
                    "text",
                    "(^| )",
                    F.concat(
                        F.lit("$1"), F.char(F.col("rep") + 97)
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        with scratch_dir(f"curation_{k}x_") as tmp:
            tagged.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
            n = tagged.count()
            t0 = time.perf_counter()
            rows = corpus_curation_funnel(spark, tmp).collect()
            wall = time.perf_counter() - t0
        cells = {
            r["lang"]: (
                r["n_raw"],
                r["n_quality"],
                r["n_dedup"],
                r["n_clean"],
                r["tokens_clean"],
            )
            for r in rows
        }
        if k == 1:
            base = cells
        else:
            want = {
                lg: tuple(v * k for v in cell) for lg, cell in base.items()
            }
            _check(cells == want, "funnel cells tile exactly k-fold",
                    k, cells, want)
        tot = tuple(sum(c[i] for c in cells.values()) for i in range(5))
        print(
            f"| {n:,} | {wall:.1f} | {tot[0]:,}/{tot[1]:,}/{tot[2]:,}"
            f"/{tot[3]:,}/{tot[4]:,} |",
            flush=True,
        )

def dsir_growth_probe(spark) -> None:
    """Growth evidence for `dsir_importance_select` (built r12,
    registration deferred to an r14+ replacement slot): hold the
    TARGET sample fixed and replicate the RAW pool k× at
    31-preserving id offsets.  Raw bucket counts then scale exactly
    k× while the Laplace smoothing does not, so every document's
    score follows the closed form score_k = k·S1 + S0 — the probe's
    pure-Python twin computes the base-corpus gram counts ONCE and
    PREDICTS the full per-lang top-k analytically at every scale;
    the engine output must equal the prediction row for row
    (asserted).  Replica copies of one document must tie at an
    identical score with the doc_id ASC tie-break — the
    partition-independence invariant.  Wall should grow ~linearly
    (the gram explode and the bucket-bounded aggregate are the only
    corpus-sized stages; the λ table stays ≤512 rows broadcast).
    A prediction mismatch flags nondeterminism or an overflow; a
    super-linear bend flags a corpus-sized shuffle."""
    import hashlib
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq

    from real_estate_etl_dev_spark.plans.llmdata import (
        _DSIR_BUCKETS,
        _DSIR_SALT,
        _DSIR_TOP_K,
        dsir_importance_select,
    )
    from real_estate_etl_dev_spark.sources.readers import load_table

    OFF = 31 * 100_000

    def bucket(g):
        return (
            int(hashlib.md5((_DSIR_SALT + g).encode()).hexdigest()[:8], 16)
            % _DSIR_BUCKETS
        )

    def doc_grams(s):
        toks = s.lower().split(" ")
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    base = list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
        )
    )
    c_t, c_r1 = Counter(), Counter()
    raw_buckets = {}
    for i, s, lg in base:
        bs = [bucket(g) for g in doc_grams(s)]
        if i % 31 == 0:
            c_t.update(bs)
        else:
            c_r1.update(bs)
            raw_buckets[i] = (lg, bs)
    ct_tot = sum(c_t.values())

    print()
    print("| raw docs | wall s | prediction |")
    print("|---|---|---|")
    for k in (1, 4, 16):
        docs = load_table(spark, SF_DIR, "documents")
        target = docs.filter(F.col("doc_id") % 31 == 0)
        reps = spark.range(k).select(F.col("id").alias("rep"))
        raw = (
            docs.filter(F.col("doc_id") % 31 != 0)
            .crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * F.lit(OFF)).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
        with scratch_dir(f"dsir_{k}x_") as tmp:
            target.unionByName(raw).write.mode("overwrite").parquet(
                f"{tmp}/documents.parquet"
            )
            n_raw = raw.count()
            t0 = time.perf_counter()
            rows = dsir_importance_select(spark, tmp).collect()
            wall = time.perf_counter() - t0
        # analytic prediction: c_r scales k x, Laplace terms do not
        tt = ct_tot + _DSIR_BUCKETS
        rr = k * sum(c_r1.values()) + _DSIR_BUCKETS
        lam = {
            b: (c_t[b] + 1) * rr - (k * c_r1[b] + 1) * tt
            for b in set(c_t) | set(c_r1)
        }
        by_lang = defaultdict(list)
        for i, (lg, bs) in raw_buckets.items():
            score = sum(lam[b] for b in bs)
            for r in range(k):
                by_lang[lg].append((-score, i + r * OFF))
        want = []
        for lg in sorted(by_lang):
            cand = sorted(by_lang[lg])[:_DSIR_TOP_K]
            want += [
                (lg, rnk + 1, i, -neg) for rnk, (neg, i) in enumerate(cand)
            ]
        got = [(r["lang"], r["rnk"], r["doc_id"], r["score"]) for r in rows]
        _check(got == want, "dsir top-k matches closed-form prediction",
                k, got, want)
        print(f"| {n_raw:,} | {wall:.1f} | exact ({len(got)} rows) |", flush=True)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated probe function names to run instead of main()",
    )
    cli = ap.parse_args()
    if cli.only:
        # validate BEFORE the JVM starts: a typo or stray space must
        # not cost a completed probe's run to a KeyError mid-sequence
        names = [s.strip() for s in cli.only.split(",") if s.strip()]
        bad = [s for s in names if not callable(globals().get(s))]
        if bad:
            ap.error(f"unknown probe(s): {bad}")
        _spark = get_spark("scale-probe")
        _spark.sparkContext.setLogLevel("ERROR")
        for fn_name in names:
            globals()[fn_name](_spark)
    else:
        main()
