"""URL-filter subword scan: flat regex alternation semantics and scale.

The banned-subword rule used to be an OR-fold of contains() — one Catalyst
tree level per pattern, JVM analyzer StackOverflowError near ~400 patterns
(the same failure class as a when().otherwise() chain of per-key
thresholds, see lang_rebalance.threshold_map_expr). These pin (a)
literal-only matching incl. regex metacharacters, and (b) that a
1,000-pattern list builds and evaluates."""

from __future__ import annotations

from datatrove_spark.config import URLFilterConfig
from datatrove_spark.operators import url_filter


def _reasons(spark, urls, cfg):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "doc_id long, url string")
    out = url_filter.apply(df, cfg=cfg)
    return {r.url: r.url_filter_reason for r in out.collect()}


def test_subword_matches_are_literal_not_regex(spark):
    """Patterns with regex metacharacters must match as raw substrings of the
    normalized url — 'a.b' matches only a real dot, '.' must not wildcard."""
    cfg = URLFilterConfig(banned_subwords=("a.b", "x+y", "q|r"))
    got = _reasons(
        spark,
        [
            "http://site.com/a.b/page",  # literal dot -> hit
            "http://site.com/aXb/page",  # '.' must NOT act as a wildcard
            "http://site.com/x+y",  # literal plus -> hit
            "http://site.com/xxy",  # 'x+y' must NOT mean 'x{1,}y'
            "http://site.com/q",  # 'q|r' is ONE literal, not q-or-r
            "http://site.com/q|r",
            "http://clean.example/fine",
        ],
        cfg,
    )
    assert got["http://site.com/a.b/page"] == "blacklisted_subword"
    assert got["http://site.com/aXb/page"] is None
    assert got["http://site.com/x+y"] == "blacklisted_subword"
    assert got["http://site.com/xxy"] is None
    assert got["http://site.com/q"] is None
    assert got["http://site.com/q|r"] == "blacklisted_subword"
    assert got["http://clean.example/fine"] is None


def test_thousand_subwords_does_not_overflow_analyzer(spark):
    """Regression: 1,000 patterns must analyze and run (the OR-fold died at
    ~400); only the one real substring hits."""
    decoys = tuple(f"zqv{i}decoy" for i in range(999))
    cfg = URLFilterConfig(banned_subwords=decoys + ("realbad",))
    got = _reasons(
        spark,
        ["http://a.com/realbad/x", "http://a.com/harmless"],
        cfg,
    )
    assert got["http://a.com/realbad/x"] == "blacklisted_subword"
    assert got["http://a.com/harmless"] is None
