"""Partitioned Bloom filter over integer keys, with an exact
cross-engine hash family so the filter — and its measured
false-positive rate — is oracle-certifiable.

Reference tie-in: the incremental anti-join seed scan
(reid/pipelines/property.py seen-URL check, SURVEY §2 S8/S9) is the
workload a Bloom filter replaces at scale: instead of shuffling the
full seen-set against every new batch, ship a fixed-size bit set and
anti-join only the filter-positive remainder.  The FP audit here is
the acceptance gate for that swap — it measures, per (m, k)
configuration, exactly how much spurious re-fetch traffic the filter
would admit.

Hash family: h_i(key) = ((a_i * (key mod 2^31) + c_i) mod 2^31) mod m
with LCG-derived odd multipliers a_i and offsets c_i.  Every term is
< 2^62, so int64 arithmetic is exact in both Spark and DuckDB and the
bit positions — hence every audited count — match bit-for-bit.
xxhash64 would be the production choice but has no DuckDB twin; the
LCG keeps the certification honest (same trade as the rp_signature
plane family in plans/llmdata.py).

Scale posture: the bit set for a config is at most m rows (bounded by
the CONSTANT m, not the data), so the probe join broadcasts the
filter — the entire structure is one distinct-aggregate over an
exploded hash column followed by a broadcast semi-probe.  No step
shuffles more than k rows per input key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_M31 = 2**31
_M30 = 2**30


def lcg_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, c_i) per hash index: a_i odd (full period
    mod 2^31 is not needed — only cross-engine determinism and
    distinctness of the k hash functions)."""
    a = 2 * ((1103515245 * (i + 1) + 12345) % _M30) + 1
    c = (1013904223 * (i + 1)) % _M31
    return a, c


def bit_position(key, i: int, m: int):
    """Column: h_i(key) in [0, m).  ``key`` must be integral; lits are
    cast to long up front (INT32-literal ANSI overflow trap).

    NOT a bare affine LCG: the family's first scale-probe run measured
    ~4% false positives where independent hashes predict ~0.05% —
    pure-affine positions are all images of the SAME key difference,
    so one lucky collision correlates across every hash index (the
    rp_signature lesson again: audit the family, don't assume it).
    Two xor-shift mixing steps around the multiply break the affinity;
    the re-run probe matches the independence prediction within noise.
    Every intermediate stays below 2^62, so int64 arithmetic is exact
    and DuckDB's ``xor()``/``>>`` twin reproduces it bit-for-bit."""
    a, c = lcg_params(i)
    a2, _ = lcg_params(i + 8)
    m31 = F.lit(_M31).cast("long")
    x = key.cast("long") % m31
    y = x.bitwiseXOR(F.shiftrightunsigned(x, 15))
    z = (F.lit(a).cast("long") * y + F.lit(c).cast("long")) % m31
    w = z.bitwiseXOR(F.shiftrightunsigned(z, 13))
    return (F.lit(a2).cast("long") * w) % m31 % F.lit(m).cast("long")


def bit_position_col(key, i, m) -> F.Column:
    """COLUMN-parametric twin of :func:`bit_position`: the hash index
    ``i`` and modulus ``m`` arrive as columns, so ONE tall frame can
    carry every (config, hash-index) combination through a single
    explode + exchange instead of one plan subtree per config (the
    r14 bloom_sizing_design rewrite — guide §2.4, share the
    exchange).  The arithmetic is the literal form's, term for term,
    with the ``lcg_params`` derivations inlined as int64 column
    expressions; every intermediate stays below 2^62 exactly as in
    the literal form, so the positions are bit-identical (pinned by
    tests/test_llmdata.py::test_bit_position_col_matches_literal)."""
    m31 = F.lit(_M31).cast("long")
    m30 = F.lit(_M30).cast("long")
    i1 = i.cast("long") + 1
    a = 2 * ((F.lit(1103515245).cast("long") * i1 + 12345) % m30) + 1
    c = (F.lit(1013904223).cast("long") * i1) % m31
    i9 = i.cast("long") + 9  # lcg_params(i + 8) → multiplier index i+9
    a2 = 2 * ((F.lit(1103515245).cast("long") * i9 + 12345) % m30) + 1
    x = key.cast("long") % m31
    y = x.bitwiseXOR(F.shiftrightunsigned(x, 15))
    z = (a * y + c) % m31
    w = z.bitwiseXOR(F.shiftrightunsigned(z, 13))
    return (a2 * w) % m31 % m.cast("long")


def bit_position_sql(key_expr: str, i: int, m: int) -> str:
    """The DuckDB twin of :func:`bit_position` — kept adjacent so the
    two formulations can be reviewed as one."""
    a, c = lcg_params(i)
    a2, _ = lcg_params(i + 8)
    x = f"(({key_expr}) % 2147483648)"
    y = f"xor({x}, {x} >> 15)"
    z = f"((CAST({a} AS BIGINT) * {y} + {c}) % 2147483648)"
    w = f"xor({z}, {z} >> 13)"
    return f"((CAST({a2} AS BIGINT) * {w}) % 2147483648) % {m}"


def bloom_bits(members: DataFrame, key: str, m: int, k: int) -> DataFrame:
    """The filter: distinct (bitpos) rows — at most m of them, so the
    result is broadcast-sized by construction regardless of |members|.
    Build cost is one map-side explode (k positions per key) plus one
    distinct aggregate on bitpos (map-side combine collapses to ≤ m
    rows per task before the shuffle)."""
    kc = F.col(key)
    return (
        members.select(
            F.explode(F.array(*[bit_position(kc, i, m) for i in range(k)])).alias(
                "bitpos"
            )
        )
        .distinct()
    )


def bloom_probe(probes: DataFrame, key: str, bits: DataFrame, m: int, k: int) -> DataFrame:
    """Probe verdicts: input columns + ``bloom_positive`` (true iff
    every one of the key's k bit positions is set).  Collisions among
    a key's own k hashes are handled by counting DISTINCT positions:
    positive iff matched-distinct == probed-distinct.

    Row identity is the FULL probe-column tuple: two probe rows that
    share a key but differ in any other column (duplicate texts under
    distinct doc_ids — they exist at sf0.1) each get their own
    verdict.  An earlier revision pre-deduped on [key, bitpos] and
    silently dropped the second row's verdict; the fix skips the
    pre-dedup entirely and lets countDistinct absorb the within-key
    hash collisions inside the verdict agg instead.  Fully identical
    probe rows still collapse to one verdict row (groupBy semantics —
    same as every engine's ``GROUP BY ALL``).

    CALLER CONTRACT (r09 ADVICE): a probe frame whose duplicate rows
    are semantically distinct events MUST carry a distinguishing
    column (a doc_id, a batch id, a ``monotonically_increasing_id``
    salt); without one, identical rows collapse and per-row
    accounting undercounts.  Every in-repo caller satisfies this —
    the dedup gates probe (doc_id, key) and the audits probe the
    orders key space where ``key`` itself is unique.

    The join against ``bits`` is broadcast (≤ m rows); the verdict
    agg rides the explode's own key, so the only exchange is one hash
    partition on the probe row.

    r14 verdict form (identical truth table, cheaper plan): ``bits``
    is DISTINCT on bitpos, so the left join matches each exploded row
    at most once and ``_hit`` is a pure function of the row's
    position.  "Every distinct probed position matched" is therefore
    exactly "no exploded row missed": ``count(*) == count(_hit)``.
    A distinct-collapsed position either hits on ALL its duplicate
    rows or on none, so within-key hash collisions cannot split the
    two forms.  Dropping the two countDistincts removes the Expand
    (which doubled the exploded rows) and restores map-side partial
    aggregation: the exchange carries ONE partial row per probe row
    instead of up to k distinct (row, bitpos) pairs."""
    kc = F.col(key)
    exploded = probes.select(
        "*",
        F.explode(F.array(*[bit_position(kc, i, m) for i in range(k)])).alias(
            "bitpos"
        ),
    )
    hit = F.broadcast(bits.withColumn("_hit", F.lit(1)))
    other = [c for c in probes.columns if c != key]
    return (
        exploded.join(hit, "bitpos", "left")
        .groupBy(key, *other)
        .agg(
            (F.count(F.lit(1)) == F.count(F.col("_hit"))).alias(
                "bloom_positive"
            ),
        )
    )


def md5_key(text) -> F.Column:
    """Content key: first 15 hex digits of md5 as int64 (60 bits —
    exact in BIGINT).  Cross-engine twin:
    DuckDB ``('0x' || substr(md5(text), 1, 15))::BIGINT`` parses the
    same digits to the same integer, so Bloom bit positions derived
    from this key certify across engines (unlike xxhash64, which has
    no DuckDB implementation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Sizing: the inverse of the FP audit — from (n, target_fp) to (m, k)
# ---------------------------------------------------------------------------

# repr'd double literals (determinism recipe): both the Python helper
# and the DuckDB oracle embed THESE constants, never a live log() call,
# so the ceil/floor boundaries are the same IEEE expression everywhere.
LN2 = 0.6931471805599453  # ln 2
LN2_SQ = 0.4804530139182014  # (ln 2)^2
NEG_LN_FP = {0.05: 2.995732273553991, 0.01: 4.605170185988091}


def bloom_sizing(n: int, target_fp: float) -> tuple[int, int]:
    """The standard Bloom bound, made cross-engine-exact: for ``n``
    keys at false-positive target ``p``,

        m = ceil(n * -ln(p) / (ln 2)^2)        bits
        k = max(1, floor(m/n * ln2 + 0.5))     hash functions

    ``-ln(p)`` comes from the ``NEG_LN_FP`` literal table (extend it
    to admit a new target), so both engines evaluate the identical
    double expression — DuckDB spells it
    ``CEIL(n * <lit> / <lit>)`` / ``FLOOR(m/n * <lit> + 0.5)`` with
    the same literals.  floor(x + 0.5) replaces round() because the
    engines disagree on round-half semantics, floor never.

    This is the design-time inverse of the FP audit
    (plans/llmdata.py:bloom_filter_fp_audit): the audit measures FP
    for a given (m, k); this derives (m, k) for a target FP.  At
    100 TB the seen-set n grows per snapshot — resize when the
    audit's saturation column (n/m) drifts toward the design point,
    BEFORE measured FP leaves the predicted curve."""
    import math

    neg_ln_p = NEG_LN_FP[target_fp]
    m = int(math.ceil(n * neg_ln_p / LN2_SQ))
    k = max(1, int(math.floor(m / n * LN2 + 0.5)))
    return m, k
