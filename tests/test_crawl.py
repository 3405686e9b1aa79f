"""Crawl-frontier operator (functions/crawl.py): normalization,
robots politeness, history dedup, hash-ordered per-host budget."""

import pytest
from pyspark.sql import functions as F

from malstrom_spark.functions.crawl import crawl_frontier

ROBOTS = {"b.example": "User-agent: *\nDisallow: /private/"}


def _links(spark, rows):
    return spark.createDataFrame([(u,) for u in rows], "url string")


def test_frontier_semantics(spark):
    links = _links(spark, [
        "HTTPS://A.Example:443/p1#frag",     # normalizes...
        "https://a.example/p1",              # ...into this duplicate
        "https://a.example/p2",
        "https://b.example/private/x",       # robots-disallowed
        "https://b.example/open",
        "https://a.example/fetched",         # in history
        "not a url",                         # unparseable: dropped
        None,
    ])
    hist = _links(spark, ["https://a.example/fetched"])
    out = crawl_frontier(links, hist, ROBOTS, user_agent="bot")
    got = {(r["url"], r["host"], r["domain"]) for r in out.collect()}
    assert got == {
        ("https://a.example/p1", "a.example", "a.example"),
        ("https://a.example/p2", "a.example", "a.example"),
        ("https://b.example/open", "b.example", "b.example"),
    }, got


def test_frontier_budget_deterministic(spark):
    links = _links(spark, [f"https://big.example/p{i}" for i in range(200)]
                   + [f"https://small.example/q{i}" for i in range(3)])
    plain = crawl_frontier(links, per_host_budget=20)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, crawl_frontier(links, per_host_budget=20).collect()))
    assert a == b  # rerun-identical (hash order, no rand)
    by_host = {r["host"]: r["n"] for r in
               plain.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert by_host == {"big.example": 20, "small.example": 3}
    # portable hash variant is also deterministic (different order OK)
    p1 = sorted(map(tuple,
                    crawl_frontier(links, per_host_budget=20,
                                   portable=True).collect()))
    p2 = sorted(map(tuple,
                    crawl_frontier(links, per_host_budget=20,
                                   portable=True).collect()))
    assert p1 == p2


def test_frontier_no_history_no_robots_no_budget(spark):
    links = _links(spark, ["https://x.example/a", "https://x.example/a",
                           "https://y.example/b"])
    out = crawl_frontier(links)
    assert sorted(r["url"] for r in out.collect()) == \
        ["https://x.example/a", "https://y.example/b"]


def test_frontier_validation(spark):
    with pytest.raises(ValueError, match="per_host_budget"):
        crawl_frontier(_links(spark, ["https://x.example/a"]),
                       per_host_budget=0)


def test_frontier_drops_malformed_authority_urls(spark):
    """Review catch (r10): a malformed authority ('https://h:80x/p')
    can parse a host while url_normalize yields NULL — such rows must
    be dropped, not emitted as NULL fetch targets that dodge the
    history anti-join forever (and the behavior must not depend on
    whether a robots dict is present)."""
    links = _links(spark, ["https://h.example:80x/p",
                           "https://ok.example/p"])
    for robots in (None, ROBOTS):
        out = crawl_frontier(links, robots_by_host=robots).collect()
        assert [r["url"] for r in out] == ["https://ok.example/p"], out
        assert all(r["url"] is not None for r in out)


def test_delay_host_budgets():
    import pytest as _pytest

    from malstrom_spark.functions.crawl import delay_host_budgets

    robots = {
        "slow.example": "User-agent: *\nCrawl-delay: 10\n",
        "fast.example": "User-agent: *\nCrawl-delay: 0.5\n",
        "nodelay.example": "User-agent: *\nDisallow: /p\n",
        "frozen.example": "User-agent: *\nCrawl-delay: 120\n",
    }
    got = delay_host_budgets(robots, window_seconds=60, max_budget=50)
    # 60/10=6; 60/0.5=120 clamped to 50; no delay -> omitted; 60/120=0
    assert got == {"slow.example": 6, "fast.example": 50,
                   "frozen.example": 0}
    with _pytest.raises(ValueError, match="positive"):
        delay_host_budgets(robots, window_seconds=0)


def test_frontier_host_budget_overrides(spark):
    import pytest as _pytest

    from malstrom_spark.functions.crawl import crawl_frontier

    links = spark.createDataFrame(
        [(f"https://h{h}.example.com/p{i}",)
         for h in range(2) for i in range(10)],
        "url string",
    )
    base = crawl_frontier(links, per_host_budget=5)
    assert {r.host: 5 for r in base.collect()} == {
        "h0.example.com": 5, "h1.example.com": 5}
    tight = crawl_frontier(
        links, per_host_budget=5,
        host_budget_overrides={"h1.example.com": 2, "h0.example.com": 0},
    ).collect()
    by_host = {}
    for r in tight:
        by_host[r.host] = by_host.get(r.host, 0) + 1
    assert by_host == {"h1.example.com": 2}  # h0 excluded, h1 capped
    # the overridden hosts keep the SAME deterministic prefix of the
    # hash order the default budget would have chosen
    kept = {r.url for r in tight}
    default_order = [r.url for r in base.collect() if r.host == "h1.example.com"]
    assert kept <= set(default_order)
    # overrides never RAISE a host above the default budget
    loose = crawl_frontier(
        links, per_host_budget=3,
        host_budget_overrides={"h1.example.com": 99},
    ).collect()
    assert sum(1 for r in loose if r.host == "h1.example.com") == 3
    with _pytest.raises(ValueError, match="default per_host_budget"):
        crawl_frontier(links, host_budget_overrides={"h": 1})
    with _pytest.raises(ValueError, match=">= 0"):
        crawl_frontier(links, per_host_budget=3,
                       host_budget_overrides={"h": -1})


def test_frontier_override_case_normalized_and_broadcast_identical(spark, monkeypatch):
    from malstrom_spark import scale
    from malstrom_spark.functions.crawl import crawl_frontier

    links = spark.createDataFrame(
        [(f"https://h{h}.example.com/p{i}",)
         for h in range(3) for i in range(8)],
        "url string",
    )
    # mixed-case key MUST still tighten the budget (url_host lowers)
    got = crawl_frontier(
        links, per_host_budget=5,
        host_budget_overrides={"H1.Example.COM": 2},
    ).collect()
    per = {}
    for r in got:
        per[r.host] = per.get(r.host, 0) + 1
    assert per == {"h0.example.com": 5, "h1.example.com": 2,
                   "h2.example.com": 5}
    # case-colliding keys keep the TIGHTEST budget
    tight = crawl_frontier(
        links, per_host_budget=5,
        host_budget_overrides={"h1.example.com": 4, "H1.EXAMPLE.COM": 1},
    ).collect()
    assert sum(1 for r in tight if r.host == "h1.example.com") == 1
    # broadcast-join path (forced via the scale constant) is
    # output-identical to the literal map path
    literal = sorted((r.url for r in got))
    monkeypatch.setattr(scale, "CRAWL_OVERRIDES_LITERAL_MAX", 0)
    bc = crawl_frontier(
        links, per_host_budget=5,
        host_budget_overrides={"H1.Example.COM": 2},
    ).collect()
    assert sorted(r.url for r in bc) == literal
    assert {r.host for r in bc} == {r.host for r in got}


# ---------------------------------------------- recrawl schedule (r11)
def test_recrawl_schedule_reasons(spark):
    from malstrom_spark.functions.crawl import recrawl_schedule

    entries = spark.createDataFrame(
        [
            ("u/new", "2026-01-05", "daily"),
            ("u/mod", "2026-02-01", "monthly"),
            ("u/stale", "2026-01-01", "weekly"),
            ("u/fresh", "2026-01-01", "monthly"),
            ("u/never", "2026-01-01", "never"),
            ("u/never-mod", "2026-02-01", "never"),
            ("u/nohint", "2026-01-01", None),
        ],
        "url string, lastmod string, changefreq string",
    )
    history = spark.createDataFrame(
        [
            ("u/mod", "2026-01-20"),
            ("u/stale", "2026-01-25"),
            ("u/fresh", "2026-02-01"),
            ("u/never", "2026-01-01"),
            ("u/never-mod", "2026-01-15"),
            ("u/nohint", "2026-01-25"),
        ],
        "url string, last_fetch string",
    )
    got = {r.url: r for r in recrawl_schedule(
        entries, history, as_of="2026-02-05"
    ).collect()}
    assert got["u/new"].reason == "new" and got["u/new"].due
    assert got["u/mod"].reason == "modified"
    assert got["u/stale"].reason == "stale"          # 11 days > weekly 7
    assert got["u/fresh"].reason is None and not got["u/fresh"].due
    # 'never': age alone NEVER makes it due...
    assert got["u/never"].reason is None
    # ...but a lastmod bump still does
    assert got["u/never-mod"].reason == "modified"
    # missing hint -> default 7-day interval -> 11 days stale
    assert got["u/nohint"].reason == "stale"
    # scores: modified tier > new tier > stale tier
    assert got["u/mod"].score > got["u/new"].score > got["u/stale"].score
    assert got["u/fresh"].score is None


# ------------------------------------------- change-rate intervals (r11)
def test_change_rate_intervals_math_and_clamps(spark):
    from malstrom_spark.functions.crawl import change_rate_intervals

    hist = spark.createDataFrame(
        [
            # u/hot: changes every interval -> rate 1 -> 7*4//4 = 7
            *[("u/hot", f"2026-01-0{i}", f"f{i}") for i in range(1, 6)],
            # u/cold: never changes over 4 intervals -> 7*4//1=28
            *[("u/cold", f"2026-01-0{i}", "same") for i in range(1, 6)],
            # u/one: single fetch -> fallback base
            ("u/one", "2026-01-01", "x"),
            # u/frozen: 20 intervals no change -> 140 clamped to 60
            *[("u/frozen", f"2026-01-{i:02d}", "s") for i in range(1, 22)],
        ],
        "url string, fetch_date string, fingerprint string",
    )
    got = {r.url: r for r in change_rate_intervals(
        hist, base_days=7, min_days=1, max_days=60
    ).collect()}
    assert got["u/hot"].n_changes == 4 and got["u/hot"].interval_days == 7
    assert got["u/hot"].change_rate == 1.0
    assert got["u/cold"].n_changes == 0 and got["u/cold"].interval_days == 28
    assert got["u/one"].n_intervals == 0 and got["u/one"].interval_days == 7
    assert got["u/one"].change_rate is None
    assert got["u/frozen"].interval_days == 60  # max clamp


def test_recrawl_schedule_append_history_uses_latest_fetch(spark):
    from malstrom_spark.functions.crawl import recrawl_schedule

    entries = spark.createDataFrame(
        [("u", "2026-01-02", "weekly")], "url string, lastmod string, changefreq string"
    )
    # append-style log: an old fetch AND a fresh one — only the
    # latest may drive the schedule, and output stays one row per entry
    history = spark.createDataFrame(
        [("u", "2026-01-01"), ("u", "2026-02-04")],
        "url string, last_fetch string",
    )
    got = recrawl_schedule(entries, history, as_of="2026-02-05").collect()
    assert len(got) == 1
    r = got[0]
    assert r.days_since_fetch == 1 and not r.due and r.reason is None
