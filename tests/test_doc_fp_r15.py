r"""`doc_fingerprints` normalizes whitespace with an explicit class on
both engines.  Bare ``\s`` differs between Java (collapses vertical tab)
and RE2 (does not), so on a corpus containing \x0B a bare-``\s`` plan
and its oracle disagree.  The committed fixtures contain no \x0B, so
the oracle checks alone cannot see that divergence; this corpus can.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq


def _vtab_corpus(tmp_path):
    """documents table where half the docs carry a vertical tab
    between words — the code point Java \\s and RE2 \\s disagree on."""
    from real_estate_etl_dev_spark.sources.readers import TABLES

    from tests.conftest import SF_SMALL

    rows = {}
    for i in range(20):
        sep = "\x0b" if i % 2 == 0 else " "
        rows[i] = f"alpha{sep}beta  gamma{i}"
    tbl = pa.table(
        {
            "doc_id": pa.array(sorted(rows), type=pa.int64()),
            "text": pa.array([rows[i] for i in sorted(rows)]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["synthetic"] * len(rows)),
            "n_chars": pa.array(
                [len(rows[i]) for i in sorted(rows)], type=pa.int64()
            ),
        }
    )
    d = str(tmp_path / "vtab")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, f"{d}/documents.parquet")
    for name in TABLES:
        if name != "documents":
            os.symlink(f"{SF_SMALL}/{name}.parquet", f"{d}/{name}.parquet")
    return d


def test_vtab_doc_matches_oracle_and_collapses(spark, tmp_path):
    import hashlib

    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    from tests.oracle_harness import compare

    d = _vtab_corpus(tmp_path)
    q = CATALOG["doc_fingerprints"]
    problems = compare(spark, d, q.fn, q.oracle)
    assert not problems, "; ".join(problems)
    # a \x0B doc fingerprints like its single-space twin
    fps = {r["doc_id"]: r["fp"] for r in q.fn(spark, d).collect()}
    assert fps[0] == hashlib.md5(b"alpha beta gamma0").hexdigest()[:16]
