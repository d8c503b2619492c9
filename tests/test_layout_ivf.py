"""Tests for the physical-layout operators (bucketing, salting) and
the IVF ANN tier."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_etl_dev_spark.operators.layout import salted_count_sum, write_bucketed
from real_estate_etl_dev_spark.operators.merge import merge_listings
from real_estate_etl_dev_spark.operators.similarity import cosine_topk, ivf_topk
from real_estate_etl_dev_spark.planview import node_classes, partition_filter_columns

from tests.test_llmdata import VECS, vec_df
from tests.test_merge import RUN_DATE, SCHEMA, row


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    cur = spark.createDataFrame([row(f"u{i}") for i in range(50)], SCHEMA)
    stg = spark.createDataFrame(
        [row(f"u{i}", price=999) for i in range(25, 75)], SCHEMA
    )
    write_bucketed(cur, "t_cur", "url", 8, path=str(tmp_path / "cur"))
    write_bucketed(stg, "t_stg", "url", 8, path=str(tmp_path / "stg"))
    try:
        a, b = spark.table("t_cur"), spark.table("t_stg")
        joined = a.join(b, "url")
        # both sides read bucketed → the equi-join needs no shuffle
        assert "ShuffleExchangeExec" not in node_classes(joined)
        assert joined.count() == 25

        # and the real merge over bucketed tables keeps ONE side-free join
        merged = merge_listings(a, b, run_date=RUN_DATE)
        assert "ShuffleExchangeExec" not in node_classes(merged)
        assert merged.count() == 75
    finally:
        spark.sql("DROP TABLE IF EXISTS t_cur")
        spark.sql("DROP TABLE IF EXISTS t_stg")


def test_salted_count_sum_matches_plain(spark):
    # 90% of rows share one hot key — the shape salting exists for
    rows = [("hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["n"], round(r["total"], 3))
        for r in salted_count_sum(df, "k", "v").collect()
    }
    exact = {
        r["k"]: (r["n"], round(r["total"], 3))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == exact


def test_ivf_topk_matches_bruteforce_when_probing_all(spark):
    emb = vec_df(spark)
    queries = emb.filter(F.col("vec_id") == 0)
    exact = {
        (r["rank"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=2).collect()
    }
    # probe every cell → must equal brute force
    approx = {
        (r["rank"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=2, n_centroids=2, n_probe=2).collect()
    }
    assert approx == exact


def test_ivf_topk_partial_probe_keeps_near_identical(spark):
    emb = vec_df(spark)
    queries = emb.filter(F.col("vec_id") == 0)
    got = ivf_topk(emb, queries, k=1, n_centroids=2, n_probe=1).collect()
    # the near-identical vector (id 4) clusters with the query
    assert got and got[0]["neighbor_id"] == 4


def test_partitioned_write_prunes_scan(spark, tmp_path):
    from real_estate_etl_dev_spark.operators.layout import write_partitioned
    from real_estate_etl_dev_spark.sources.readers import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "event_date", F.to_date("ts")
    )
    n_days = events.select("event_date").distinct().count()
    path = str(tmp_path / "ev_part")
    write_partitioned(events, path, ("event_date",))

    one_day = events.selectExpr("min(event_date) AS d").collect()[0]["d"]
    rd = spark.read.parquet(path).filter(F.col("event_date") == F.lit(one_day))
    # the date predicate prunes partition DIRECTORIES, not rows:
    assert "event_date" in partition_filter_columns(rd)
    expected = events.filter(F.col("event_date") == F.lit(one_day)).count()
    assert rd.count() == expected and n_days > 1


def test_range_sorted_files_have_disjoint_minmax(spark, sf_dir, tmp_path):
    """write_range_sorted must produce files whose parquet footer
    min/max ranges on the sort key are pairwise disjoint — the property
    row-group/file skipping depends on at 100 TB."""
    import pyarrow.parquet as pq

    from real_estate_etl_dev_spark.operators.layout import write_range_sorted
    from real_estate_etl_dev_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    out = str(tmp_path / "range_sorted")
    write_range_sorted(orders, out, ["o_totalprice"], n_files=4)

    import glob

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_totalprice"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2  # the range partitioner actually split
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, (ranges,)  # disjoint slices of the key space


def test_compact_files_reduces_file_count(spark, sf_dir, tmp_path):
    """compact_files must collapse a many-small-files zone into the
    byte-budgeted count without losing or duplicating rows."""
    import glob

    from real_estate_etl_dev_spark.operators.layout import compact_files
    from real_estate_etl_dev_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    src = str(tmp_path / "fragmented")
    orders.repartition(32).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 32

    dst = str(tmp_path / "compacted")
    n = compact_files(spark, src, dst, target_file_mb=128)
    out_files = glob.glob(f"{dst}/part-*.parquet")
    # sf0.001 orders is well under 128 MB -> one output file
    assert n == 1 and len(out_files) == 1
    assert spark.read.parquet(dst).count() == orders.count()


def test_footer_stats_distributed_matches_driver_loop(spark, tmp_path):
    """The distributed footer audit (mapInPandas over the file list)
    must report exactly what the driver-side pyarrow loop sees on a
    range-sorted zone, and the lag-window disjointness verdict must
    hold there and fail on an overlapping (unsorted) zone."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.layout import (
        footer_stats,
        ranges_disjoint,
        write_range_sorted,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    sorted_zone = str(tmp_path / "sorted")
    write_range_sorted(df, sorted_zone, ["k"], n_files=4)

    stats = footer_stats(spark, sorted_zone, "k").toPandas()
    want = {}
    for f in (tmp_path / "sorted").glob("part-*.parquet"):
        meta = pq.ParquetFile(str(f)).metadata
        idx = meta.schema.names.index("k")
        mins = [meta.row_group(r).column(idx).statistics.min
                for r in range(meta.num_row_groups)]
        maxs = [meta.row_group(r).column(idx).statistics.max
                for r in range(meta.num_row_groups)]
        want[f.name] = (meta.num_rows, str(min(mins)), str(max(maxs)))
    got = {r.file: (r.n_rows, r.col_min, r.col_max) for r in stats.itertuples()}
    assert got == want and len(got) == 4

    # NUMERIC zone: the typed cast must see the disjoint ranges a
    # lexical compare would scramble ('10' < '2')
    v_num = ranges_disjoint(
        footer_stats(spark, sorted_zone, "k"), cast_to="bigint"
    ).collect()[0]
    assert v_num.n_files == 4 and v_num.all_disjoint
    assert v_num.n_missing_stats == 0

    # string zone whose lexical order agrees with the natural order
    padded = df.select(F.lpad(F.col("k").cast("string"), 8, "0").alias("k"))
    pad_zone = str(tmp_path / "padded")
    write_range_sorted(padded, pad_zone, ["k"], n_files=4)
    v = ranges_disjoint(footer_stats(spark, pad_zone, "k")).collect()[0]
    assert v.n_files == 4 and v.all_disjoint

    # overlapping zone must FAIL the verdict
    messy = str(tmp_path / "messy")
    df.select(F.lpad((F.col("k") % 13).cast("string"), 8, "0").alias("k")) \
        .repartition(4).write.parquet(messy)
    m = ranges_disjoint(footer_stats(spark, messy, "k")).collect()[0]
    assert m.n_files == 4 and not m.all_disjoint

    # a numeric zone that truly overlaps must fail UNDER THE CAST too
    messy_num = str(tmp_path / "messy_num")
    df.select((F.col("k") % 13).alias("k")).repartition(4).write.parquet(messy_num)
    mn = ranges_disjoint(
        footer_stats(spark, messy_num, "k"), cast_to="bigint"
    ).collect()[0]
    assert mn.n_files == 4 and not mn.all_disjoint


def test_open_footer_fallback_real_exception_class(tmp_path, monkeypatch):
    """r05 ADVICE (medium): the footer-read fallback used to name
    ``pafs.lib.ArrowInvalid`` — an attribute that does not exist — so
    any URI `FileSystem.from_uri` rejects raised AttributeError instead
    of taking the documented local-path fallback.  Pin both arms:
    a scheme-prefixed URI goes through the FileSystem arm, and a
    scheme-less relative path (which from_uri rejects with
    pa.ArrowInvalid) must land in the fallback, not explode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_estate_etl_dev_spark.operators.layout import _open_footer

    f = tmp_path / "one.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(f))

    # URI arm
    p1, meta1 = _open_footer(f.as_uri())
    assert meta1.num_rows == 3 and p1.endswith("one.parquet")

    # fallback arm: relative, scheme-less — from_uri raises ArrowInvalid
    monkeypatch.chdir(tmp_path)
    p2, meta2 = _open_footer("one.parquet")
    assert meta2.num_rows == 3 and p2 == "one.parquet"


def test_morton_code_matches_python_reference(spark):
    """Pin the five-step shift-or-mask interleave against a bit-by-bit
    Python reference over edge values (0, maxima, asymmetric pairs)."""
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.layout import morton_code

    def ref(x, y, bits):
        m = (1 << bits) - 1
        x, y = x & m, y & m
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    pairs = [(0, 0), (3, 5), (255, 0), (0, 255), (65535, 65535),
             (12345, 54321), (65536, 1), (1, 65536)]
    df = spark.createDataFrame(pairs, "x long, y long")
    got = [
        r.z
        for r in df.select(morton_code("x", "y", bits=16).alias("z"))
        .collect()
    ]
    want = [ref(x, y, 16) for x, y in pairs]
    assert got == want


def test_zorder_layout_touches_fewer_files_on_trailing_dim(spark, tmp_path):
    """The locality claim behind write_zordered: on a 256x256 grid cut
    into 16 files, a band predicate on the TRAILING sort dimension (y)
    hits every file of the 1-D (x,y)-sorted layout but only the Morton
    tiles that intersect the band on the Z-ordered one."""
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.operators.layout import (
        write_range_sorted,
        write_zordered,
    )

    df = spark.range(65536).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
        F.col("id").alias("v"),
    )
    lin = str(tmp_path / "linear")
    zo = str(tmp_path / "zorder")
    write_range_sorted(df, lin, ["x", "y"], n_files=16)
    write_zordered(df, zo, "x", "y", bits=8, n_files=16)

    band = F.col("y").between(100, 115)

    def touched(path):
        return (
            spark.read.parquet(path)
            .filter(band)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    # correctness first: the layout must not change the answer
    assert spark.read.parquet(zo).filter(band).count() == 256 * 16
    n_lin, n_zo = touched(lin), touched(zo)
    assert n_lin == 16  # x-sorted files all span every y
    # Morton tiles: the y-band lives in one 64-row tile stripe; range
    # bounds are sampled so allow slack, but locality must be real.
    assert n_zo <= n_lin // 2, (n_zo, n_lin)
