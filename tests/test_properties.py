"""Property-based invariant tests (SURVEY §5): hypothesis-generated
rows through classify_tab, identify_issues, and the merge engine.

Strategy values stay in the domain the reference handles (its Python
would crash on e.g. None.lower()); the invariants are the ones the
reference relies on implicitly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from real_estate_etl_dev_spark.operators.merge import merge_listings
from real_estate_etl_dev_spark.operators.rules import classify_tab, identify_issues

from tests.test_merge import BASE, RUN_DATE, SCHEMA, row

prices = st.one_of(st.none(), st.integers(min_value=0, max_value=10**12))
currencies = st.sampled_from(["IDR", "USD", "EUR"])
ptypes = st.one_of(st.none(), st.sampled_from(["Villa", "Land", "House", "Penthouse"]))

H = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(price=prices, currency=currencies, ptype=ptypes)
@H
def test_classify_tab_is_total(spark, price, currency, ptype):
    df = spark.createDataFrame(
        [(price, currency, ptype)], "price long, currency string, property_type string"
    )
    got = df.select(
        classify_tab("price", "currency", "property_type").alias("tab")
    ).collect()[0][0]
    assert got in ("LUXURY LISTINGS", "ALL LAND", "DATA")
    if ptype == "Land" and got != "LUXURY LISTINGS":
        assert got == "ALL LAND"


@given(
    bedrooms=st.one_of(st.none(), st.floats(min_value=0, max_value=20, allow_nan=False)),
    price=st.integers(min_value=0, max_value=10**9),
    ptype=ptypes,
)
@H
def test_issue_rules_consistent(spark, bedrooms, price, ptype):
    df = spark.createDataFrame(
        [(bedrooms, price, ptype)],
        "bedrooms double, price long, property_type string",
    )
    issues = identify_issues(
        bedrooms="bedrooms",
        price="price",
        title=F.lit("T"),
        description=F.lit("d"),
        location=F.lit("L"),
        build_size=F.lit(10.0),
        land_size=F.lit(100.0),
        contract_type=F.lit("Freehold"),
        leasehold_years=F.lit(None).cast("double"),
        availability=F.lit("Available"),
        property_type="property_type",
        land_zoning=F.lit("Residential"),
    )
    got = set(df.select(issues.alias("i")).collect()[0][0])
    # mutually exclusive pair: a row can't both lack bedrooms and have
    # land-with-bedrooms
    assert not ({"no_bedrooms", "land_with_bedrooms"} <= got)
    if price == 0:
        assert "no_price" in got


def test_merge_idempotent_second_pass(spark):
    """Merging the same staging twice: the second pass reports no
    changes (the reference's updated_at would stop moving)."""
    cur = spark.createDataFrame([row("u1"), row("u2")], SCHEMA)
    stg = spark.createDataFrame(
        [row("u1", price=150000, location="L2"), row("u3", price=5)], SCHEMA
    )
    once = merge_listings(cur, stg, run_date=RUN_DATE)
    merged_cur = once.select(*[f.name for f in SCHEMA.fields])
    twice = merge_listings(merged_cur, stg, run_date=RUN_DATE)
    assert twice.agg(F.sum("n_changes")).collect()[0][0] == 0


def test_merge_preserves_keys(spark):
    """Key-set invariant: output keys = current ∪ staging, exactly."""
    cur = spark.createDataFrame([row("a"), row("b")], SCHEMA)
    stg = spark.createDataFrame([row("b"), row("c")], SCHEMA)
    out = merge_listings(cur, stg, run_date=RUN_DATE)
    assert sorted(r["url"] for r in out.select("url").collect()) == ["a", "b", "c"]
    assert out.count() == out.select("url").distinct().count()


texts = st.lists(
    st.text(alphabet="abcdef ", min_size=1, max_size=20),
    min_size=1,
    max_size=8,
    unique=True,
)


@given(corpus_texts=texts, incoming_texts=texts)
@H
def test_flag_corpus_dups_is_exact_membership(spark, corpus_texts, incoming_texts):
    """in_corpus must be TRUE exactly when the incoming text appears in
    the corpus — regardless of overlap shape hypothesis generates."""
    from real_estate_etl_dev_spark.operators.dedup import flag_corpus_dups

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(incoming_texts)],
        "doc_id long, text string",
    )
    got = {r["text"]: r["in_corpus"] for r in flag_corpus_dups(incoming, corpus).collect()}
    want = {t: t in set(corpus_texts) for t in incoming_texts}
    assert got == want


doc_texts = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=30), min_size=1, max_size=6
)


@given(texts=doc_texts)
@H
def test_repetition_dup_frac_bounded(spark, texts):
    """doc_repetition_scores' per-doc dup_frac expression must stay in
    [0, 1] for arbitrary whitespace-soup inputs (empty docs, single
    words, all-identical bigrams)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    d = df.select(F.split("text", " ").alias("w"))
    bigrams = F.expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"
    )
    dup_frac = F.when(F.size("w") < 2, F.lit(0.0)).otherwise(
        F.round(
            1.0
            - F.size(F.array_distinct(bigrams)).cast("double") / (F.size("w") - 1),
            4,
        )
    )
    vals = [r["f"] for r in d.select(dup_frac.alias("f")).collect()]
    assert all(v is not None and 0.0 <= v <= 1.0 for v in vals), vals


edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@given(edges=edge_lists)
@H
def test_connected_components_matches_union_find(spark, edges):
    """For ANY edge list hypothesis builds, the distributed min-label
    propagation must produce exactly the union-find components keyed
    by min member (16-node graphs: diameter < default max_iters)."""
    from real_estate_etl_dev_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == want


short_strings = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=6), min_size=2, max_size=10,
    unique=True,
)


@given(strings=short_strings)
@H
def test_edit_distance_pairs_recall_complete(spark, strings):
    """Deletion-neighborhood blocking must find EXACTLY the pairs with
    levenshtein <= 1 — complete recall, no false pairs — for any
    string set hypothesis builds (incl. empty strings and dist-0
    impossible here since rows are unique)."""
    from real_estate_etl_dev_spark.operators.fuzzy import edit_distance_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = [(i, s) for i, s in enumerate(strings)]
    want = {
        (i, j)
        for i, (ia, sa) in enumerate(rows)
        for j, (ib, sb) in enumerate(rows)
        if ia < ib and lev(sa, sb) <= 1
    }
    df = spark.createDataFrame(rows, "doc_id long, t string")
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, field="t").collect()
    }
    assert got == want


@given(data=st.data())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_setsim_prefix_recall_complete_on_random_corpora(spark, data):
    """The PPJoin recall-completeness guarantee, exercised BEYOND the
    committed fixture: on hypothesis-generated dense corpora (8-token
    vocab, so token sets overlap heavily and the prefix filter is
    under real pressure) the prefix-filtered join must return EXACTLY
    the brute-force all-pairs answer at every threshold — including
    exact-multiple (threshold, size) combinations, the boundary class
    where the r06 double-ceil hazard lived (its pinned divergence
    case is test_llmdata.py::test_setsim_rational_bounds; these
    small sizes exercise the boundaries, not the divergence itself).
    The Python oracle mirrors the engine's
    comparison semantics (double ratio >= double threshold), the same
    contract the DuckDB certification oracle uses."""
    from real_estate_etl_dev_spark.operators.dedup import setsim_join_prefix

    vocab = [f"w{i}" for i in range(8)]
    n_docs = data.draw(st.integers(min_value=4, max_value=10), label="n_docs")
    rows = []
    for i in range(n_docs):
        size = data.draw(st.integers(min_value=1, max_value=8), label=f"size{i}")
        toks = data.draw(
            st.lists(st.sampled_from(vocab), min_size=size, max_size=size),
            label=f"toks{i}",
        )
        rows.append((i, " ".join(toks)))
    threshold = data.draw(
        st.sampled_from([0.2, 0.25, 0.5, 0.6, 0.75, 0.8, 0.9, 0.97]),
        label="threshold",
    )

    sets = {i: set(t.split(" ")) for i, t in rows}
    expect = set()
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter / union >= threshold:  # the engines' double semantics
                expect.add((a, b))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b)
        for r in setsim_join_prefix(docs, threshold=threshold).collect()
    }
    assert got == expect


@given(data=st.data())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_setsim_hybrid_sound_on_random_corpora(spark, data):
    """The hybrid's two UNCONDITIONAL guarantees on hypothesis corpora
    with hot routing forced (tiny cap ⇒ most tokens hot):

    * precision is EXACT — every returned pair passes the shared
      verify, so output ⊆ brute force at any threshold;
    * set-IDENTICAL pairs are always found — identical token sets ⇒
      identical MinHash signatures ⇒ same bucket in every band (the
      planted-copy theorem), regardless of routing.

    Full recall for J < 1 hot-routed pairs is PROBABILISTIC by design
    (miss ≈ (1-J^r)^b, non-negligible at the low thresholds drawn
    here) — asserting it would flake, so it is certified instead at
    t=0.97 by the catalog oracle and pinned exactly for the no-hot
    case by test_setsim_hybrid_equals_exact_when_no_hot."""
    from real_estate_etl_dev_spark.operators.dedup import setsim_join_hybrid

    vocab = [f"w{i}" for i in range(8)]
    n_docs = data.draw(st.integers(min_value=4, max_value=10), label="n_docs")
    rows = []
    for i in range(n_docs):
        size = data.draw(st.integers(min_value=1, max_value=8), label=f"size{i}")
        toks = data.draw(
            st.lists(st.sampled_from(vocab), min_size=size, max_size=size),
            label=f"toks{i}",
        )
        rows.append((i, " ".join(toks)))
    threshold = data.draw(
        st.sampled_from([0.5, 0.75, 0.9, 0.97]), label="threshold"
    )
    cap = data.draw(st.sampled_from([1, 2, 10**6]), label="cap")

    sets = {i: set(t.split(" ")) for i, t in rows}
    brute, identical = set(), set()
    for a in range(n_docs):
        for b in range(a + 1, n_docs):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter / union >= threshold:
                brute.add((a, b))
            if sets[a] == sets[b]:
                identical.add((a, b))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b)
        for r in setsim_join_hybrid(
            docs, threshold=threshold, hot_bucket_cap=cap
        ).collect()
    }
    assert got <= brute          # exact precision
    assert identical <= got      # identical-set recall theorem
    if cap == 10**6:
        assert got == brute      # no hot bucket ⇒ equals exact join


# ---------------------------------------------------------------------------
# Bloom hash family (operators/bloom.py)
# ---------------------------------------------------------------------------

bloom_keys = st.lists(
    st.integers(min_value=0, max_value=2**60 - 1), min_size=1, max_size=24
)


def _bit_position_model(key: int, i: int, m: int) -> int:
    """Pure-Python mirror of bit_position's exact int64 arithmetic —
    pins the column expression (and, transitively, its DuckDB twin,
    which parity tests pin against the column) so a refactor can't
    silently change certified bit positions."""
    from real_estate_etl_dev_spark.operators.bloom import lcg_params

    a, c = lcg_params(i)
    a2, _ = lcg_params(i + 8)
    m31 = 2**31
    x = key % m31
    y = x ^ (x >> 15)
    z = (a * y + c) % m31
    w = z ^ (z >> 13)
    return (a2 * w) % m31 % m


@given(keys=bloom_keys)
@H
def test_bloom_bit_positions_match_python_model(spark, keys):
    from real_estate_etl_dev_spark.operators.bloom import bit_position

    m = 65536
    df = spark.createDataFrame([(k,) for k in keys], "key long")
    rows = df.select(
        "key", *[bit_position(F.col("key"), i, m).alias(f"h{i}") for i in range(3)]
    ).collect()
    for r in rows:
        for i in range(3):
            assert r[f"h{i}"] == _bit_position_model(r["key"], i, m)


@given(
    toks=st.lists(st.integers(min_value=1, max_value=900), min_size=1, max_size=60),
    cap=st.sampled_from([64, 512]),
)
@H
def test_next_fit_fold_matches_reference(spark, toks, cap):
    """For ANY token-count stream hypothesis builds, the pure-codegen
    per-window-stats next-fit fold (plans/llmdata.py:next_fit_windows
    — the exact expression seq_pack_bpe_windows runs; the r12 swap of
    the per-doc array fold, VERDICT r11 item 2) emits exactly the
    window stats a pure-Python PER-DOC next-fit implies: the doc-level
    recurrence stays the ground truth — assignments are simulated doc
    by doc and rolled up to (wid, n_docs, window_tokens,
    overflow_docs) — so ids are dense from 0 and no window exceeds cap
    unless it is a lone overflow doc."""
    from real_estate_etl_dev_spark.plans.llmdata import next_fit_windows

    # Python reference: stream next-fit, PER-DOC, then roll up
    asg, wid, fill = [], -1, cap + 1
    for i, n in enumerate(toks):
        if fill + n <= cap:
            fill += n
        else:
            wid, fill = wid + 1, n
        asg.append((i, n, wid))
    expect = []
    for _, n, w in asg:
        if not expect or expect[-1][0] != w:
            expect.append([w, 0, 0, 0])
        expect[-1][1] += 1
        expect[-1][2] += n
        expect[-1][3] += 1 if n > cap else 0
    expect = [tuple(e) for e in expect]

    df = spark.createDataFrame(
        [(list(enumerate(toks)),)],
        "xs array<struct<doc_id:long,n_tok:long>>",
    )
    got = [
        (
            r["w"]["wid"],
            r["w"]["n_docs"],
            r["w"]["window_tokens"],
            r["w"]["overflow_docs"],
        )
        for r in df.select(
            F.explode(next_fit_windows(F.col("xs"), cap)).alias("w")
        ).collect()
    ]
    assert got == expect


def test_next_fit_windows_edge_cases(spark):
    """The two boundary shapes hypothesis rarely lands on, pinned
    explicitly: (a) an EMPTY stream folds to an empty window array
    (the finish lambda must not emit the n_docs = 0 sentinel state);
    (b) the all-overflow degenerate stream — every doc alone exceeds
    cap, the W = n worst case the docstring bounds — yields one
    singleton window per doc, each flagged as overflow."""
    from real_estate_etl_dev_spark.plans.llmdata import next_fit_windows

    empty = spark.createDataFrame(
        [([],)], "xs array<struct<doc_id:long,n_tok:long>>"
    )
    assert (
        empty.select(
            F.size(next_fit_windows(F.col("xs"), 64)).alias("n")
        ).collect()[0]["n"]
        == 0
    )

    over = spark.createDataFrame(
        [([(i, 100 + i) for i in range(5)],)],
        "xs array<struct<doc_id:long,n_tok:long>>",
    )
    rows = [
        (r["w"]["wid"], r["w"]["n_docs"], r["w"]["window_tokens"],
         r["w"]["overflow_docs"])
        for r in over.select(
            F.explode(next_fit_windows(F.col("xs"), 64)).alias("w")
        ).collect()
    ]
    assert rows == [(i, 1, 100 + i, 1) for i in range(5)]


# ---------------------------------------------------------------------------
# BPE merge chain (functions/bpe.py) — VERDICT r10 item 6
# ---------------------------------------------------------------------------

# the fixture alphabet ([a-z ] — the documented input precondition)
bpe_texts = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz ", min_size=0, max_size=80
)


def _bpe_py(text: str) -> list[str]:
    """Pure-Python greedy BPE reference: a TOKEN-LIST model (not a
    string-replace mirror — re-deriving the semantics, not the
    implementation).  Each merge rule makes one left-to-right
    non-overlapping pass; a token produced by a merge does not
    re-match the same rule in the same pass."""
    from real_estate_etl_dev_spark.functions.bpe import BPE_MERGES

    toks = list(text)
    for a, b in BPE_MERGES:
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


@given(text=bpe_texts)
@H
def test_bpe_merge_chain_matches_reference(spark, text):
    """For ANY fixture-alphabet string, the delimited-string replace
    chain (bpe_tokenized) renders exactly the token sequence the
    pure-Python greedy merge produces, and bpe_token_count equals its
    length — the same recurrence-pin posture as
    test_next_fit_fold_matches_reference (VERDICT r10 item 6).  The
    oracle twin needs no separate pin here: parity tests already hold
    the DuckDB chain byte-equal to the column chain."""
    from real_estate_etl_dev_spark.functions.bpe import (
        bpe_token_count,
        bpe_tokenized,
    )

    expect_toks = _bpe_py(text)
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        bpe_tokenized(F.col("t")).alias("rendered"),
        bpe_token_count(F.col("t")).alias("n"),
    ).collect()[0]
    assert row["rendered"] == "".join(f"_{t}_" for t in expect_toks)
    assert row["n"] == len(expect_toks)


# Number-shaped text: digits, thousands/decimal marks and the letters,
# spaces and currency words they sit between in listing text.
number_texts = st.one_of(
    st.none(),
    st.text(alphabet="0123456789., abRp-/", max_size=16),
    st.text(max_size=12),
)


def test_to_number_expr_matches_python_model(spark):
    """For ANY text hypothesis builds, the JVM-side ``to_number_expr``
    returns exactly what the plain-Python ``to_number_py`` returns.
    The 1000 examples are drawn first and evaluated in one frame, so
    the check costs one Spark job instead of one per example."""
    from real_estate_etl_dev_spark.functions.udfs import to_number_expr, to_number_py

    texts: list = []

    @given(s=number_texts)
    @settings(max_examples=1000, deadline=None, database=None)
    def draw(s):
        texts.append(s)

    draw()
    assert len(texts) >= 1000
    df = spark.createDataFrame([(s,) for s in texts], "s string")
    got = [r[0] for r in df.select(to_number_expr("s")).collect()]
    bad = [(s, g, to_number_py(s)) for s, g in zip(texts, got) if g != to_number_py(s)]
    assert bad == [], bad[:10]
