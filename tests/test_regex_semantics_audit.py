"""Cross-engine regex-semantics audit — a mechanical inventory of the
constructs whose meaning DIFFERS between Java regex (Spark) and RE2
(DuckDB), so every use is either allowlisted with its justification or
fails this test until it is.

The two divergence classes that have actually bitten this repo:

* ``\\s`` — Java's ASCII ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]``; RE2's is
  ``[ \\t\\n\\f\\r]`` (NO vertical tab).  A ``\\s+``-normalized
  fingerprint therefore diverges on ``\\x0B`` input (r12 review
  finding; verified live on both engines).  New code must spell the
  class out explicitly — ``corpus_curation_funnel`` does.
* ``.`` — Java's ``.`` skips ``\\r \\u0085 \\u2028 \\u2029`` (and
  ``\\n``); RE2's skips only ``\\n``.  The BPE ``(.)`` char wrap
  diverges on those five code points unless the input is pre-stripped
  (the r12 BPE-learner hardening; the certified applier-side queries
  carry the documented ``[a-z ]`` fixture precondition instead).

Safe-by-construction constructs deliberately NOT flagged: ``\\d`` /
``\\w`` / ``\\b`` (ASCII-identical on both engines), explicit
character classes, and negated classes (same semantics both engines).
"""

from __future__ import annotations

import importlib
import pkgutil


def _catalog():
    import real_estate_etl_dev_spark.plans as P

    for m in pkgutil.iter_modules(P.__path__):
        importlib.import_module(f"real_estate_etl_dev_spark.plans.{m.name}")
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    return CATALOG


# Every catalog oracle whose SQL contains a regex ``\s`` — each entry
# needs a reason it is safe TODAY and an exit plan.
BACKSLASH_S_ALLOWED: set[str] = set()

# Every catalog oracle whose SQL contains the ``(.)`` char wrap —
# safe only under the documented input precondition.
WRAP_DOT_ALLOWED = {
    # The BPE render: fixtures are lowercase [a-z ] (the module
    # docstring's input-alphabet precondition); arbitrary input must
    # be pre-stripped of the [_\n\r U+0085 U+2028 U+2029] set first, as
    # bpe_learn_merges does on both engines.
    "token_budget_bpe",
    "seq_pack_bpe_windows",
    "bpe_fertility_by_lang",
    # Registered r13: safe BY CONSTRUCTION, not by fixture — both
    # engines apply the [_\n\r U+0085 U+2028 U+2029] -> space pre-strip
    # BEFORE the wrap (the exact recipe the divergence note
    # prescribes), so no code point Java's '.' skips survives into it.
    "bpe_learn_merges",
}

def test_oracle_backslash_s_inventory():
    got = {
        name
        for name, q in _catalog().items()
        if q.oracle and "\\s" in q.oracle
    }
    assert got == BACKSLASH_S_ALLOWED, (
        f"oracle \\s inventory drifted: new={got - BACKSLASH_S_ALLOWED} "
        f"gone={BACKSLASH_S_ALLOWED - got}.  \\s differs between Java and "
        "RE2 on vertical tab — spell the class out ([ \\t\\n\\x0B\\f\\r]) "
        "on BOTH engines, or allowlist with a justification."
    )


def test_oracle_wrap_dot_inventory():
    got = {
        name for name, q in _catalog().items() if q.oracle and "(.)" in q.oracle
    }
    assert got == WRAP_DOT_ALLOWED, (
        f"oracle (.) inventory drifted: new={got - WRAP_DOT_ALLOWED} "
        f"gone={WRAP_DOT_ALLOWED - got}.  '.' differs between Java and RE2 "
        "on \\r and the three Unicode line separators — pre-strip them on "
        "both engines (the bpe_learn_merges recipe), or allowlist with the "
        "input precondition."
    )


def test_the_divergences_are_real():
    """The audit's premises, verified live on DuckDB (the Spark side of
    each premise is pinned by the operators' own parity tests): RE2's
    \\s does NOT match vertical tab, RE2's ``.`` DOES match \\r — the
    two asymmetries the allowlists exist for."""
    import duckdb

    con = duckdb.connect()
    try:
        vt = con.execute(
            "SELECT regexp_replace('a' || chr(11) || 'b', '\\s+', ' ', 'g')"
        ).fetchone()[0]
        assert vt == "a\x0bb"  # RE2 \s leaves \x0B alone (Java collapses it)
        cr = con.execute(
            "SELECT regexp_replace('a' || chr(13) || 'b', '(.)', '_\\1_', 'g')"
        ).fetchone()[0]
        assert cr == "_a_" + "_\r_" + "_b_"  # RE2 '.' wraps \r (Java skips it)
    finally:
        con.close()
