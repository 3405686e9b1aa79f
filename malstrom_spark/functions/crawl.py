"""Crawl-frontier maintenance: the politeness + dedup + budget pass
every crawler runs between "links extracted" and "URLs fetched".

Until round 10 this existed only as a composition inside
examples/crawl_ingest.py; `crawl_frontier` makes it a first-class
operator: normalize candidate URLs (functions/url.py), drop what
robots.txt forbids (functions/robots.py, RFC 9309), drop what was
already fetched or enqueued (anti-join against the persisted fetch
history — the dedup_against_history discipline), and cap each host to
a fetch budget chosen by a deterministic URL hash (fair across path
prefixes; lexicographic order would bias toward /a... paths).

100 TB shape: normalization/robots are zero-shuffle projections; the
within-batch URL dedup and the history anti-join are the two
url-keyed exchanges (with the history persisted via persist_stage
bucketed on url, the anti-join co-locates and only the batch
shuffles); the budget is one host-keyed window (or the histogram-
threshold skew-safe form for mega-host frontiers). The whole pass is
restartable: every stage is deterministic (hash order, not rand), so
a re-run selects the identical fetch list — see
examples/crawl_frontier_restart.py for the two-job persist_stage
form.

No reference analog (the reference is a dataflow kernel; this is
north-star crawl-pipeline capability like functions/url.py and
functions/robots.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import scale
from .dedup import md5_prefix_hash
from .url import registrable_domain, url_host, url_normalize

_ORD_BITS = 2**31


def delay_host_budgets(
    robots_by_host: dict[str, str],
    window_seconds: float,
    user_agent: str = "*",
    max_budget: int | None = None,
) -> dict[str, int]:
    """{host -> fetch budget} from the Crawl-delay directives in a
    {host -> robots.txt} dict: a host declaring delay d gets
    floor(window_seconds / d) fetches per window (0 = excluded this
    window — a delay longer than the window means the host gets its
    one fetch on a later cycle), clamped to `max_budget`. Hosts
    declaring no delay are omitted (they take the frontier's default
    budget). Driver-side and tiny by the same argument as the robots
    dict itself; feed the result to crawl_frontier's
    host_budget_overrides."""
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    from .robots import crawl_delay

    out: dict[str, int] = {}
    for host, content in robots_by_host.items():
        d = crawl_delay(content, user_agent)
        if d is None:
            continue
        budget = int(window_seconds // d) if d > 0 else (
            max_budget if max_budget is not None else _ORD_BITS
        )
        if max_budget is not None:
            budget = min(budget, max_budget)
        out[host] = budget
    return out


def crawl_frontier(
    new_links: DataFrame,
    fetched_history: DataFrame | None = None,
    robots_by_host: dict[str, str] | None = None,
    user_agent: str = "*",
    per_host_budget: int | None = None,
    url_col: str = "url",
    portable: bool = False,
    host_budget_overrides: dict[str, int] | None = None,
) -> DataFrame:
    """The fetchable frontier from a batch of candidate links.
    Output: (url, host, domain) — one row per NORMALIZED URL that is
    (a) parseable with a host, (b) allowed by its host's robots.txt
    for `user_agent`, (c) absent from `fetched_history`, and (d)
    within the first `per_host_budget` URLs of its host by the
    deterministic hash order.

    `fetched_history` must hold NORMALIZED urls in `url_col` (feed it
    this function's own output / the fetch log — the
    dedup_against_history convention: history is maintained in the
    operator's key space, never re-derived). `robots_by_host` is the
    {host -> raw robots.txt} dict collected from the (tiny) fetched
    robots table — parsed once driver-side, broadcast, evaluated at
    scan parallelism with zero shuffle. Hosts absent from the dict
    are allowed (layer fetch-nothing-on-missing policy above).

    `portable=True` swaps the budget hash to the md5-prefix form both
    engines compute (oracle rows).

    `host_budget_overrides` ({host -> budget}, typically
    delay_host_budgets' output from the hosts' Crawl-delay
    directives) tightens the cap per host: an overridden host keeps
    at most min(override, per_host_budget) URLs; budget 0 excludes
    the host from this batch entirely; keys are case-normalized to
    url_host's lowercase output. The map rides as a literal
    element_at lookup beside the same rank window (no extra shuffle)
    while `scale.crawl_overrides_literal` allows (up to
    `scale.CRAWL_OVERRIDES_LITERAL_MAX` hosts), then as one broadcast
    join — plan size stays bounded either way."""
    if per_host_budget is not None and per_host_budget < 1:
        raise ValueError("per_host_budget must be >= 1 (or None)")
    if host_budget_overrides:
        if per_host_budget is None:
            raise ValueError(
                "host_budget_overrides requires a default per_host_budget")
        if any(b < 0 for b in host_budget_overrides.values()):
            raise ValueError("host budgets must be >= 0")
    norm = url_normalize(F.col(url_col))
    cand = (
        new_links.where(F.col(url_col).isNotNull())
        .select(
            norm.alias("url"),
            url_host(F.col(url_col)).alias("host"),
        )
        # BOTH must parse: a malformed authority ('https://h:80x/p')
        # can yield host without url — a NULL url would survive the
        # history anti-join (NULL never matches) and be re-enqueued
        # every batch, and dropDuplicates would conflate all NULLs
        .where(
            F.col("url").isNotNull()
            & F.col("host").isNotNull() & (F.col("host") != "")
        )
        .withColumn("domain", registrable_domain(F.col("host")))
    )
    if robots_by_host:
        from .robots import robots_allowed

        cand = cand.where(
            robots_allowed(F.col("url"), robots_by_host, user_agent)
        )
    cand = cand.dropDuplicates(["url"])
    if fetched_history is not None:
        hist = fetched_history.select(F.col(url_col).alias("url"))
        cand = cand.join(hist, "url", "left_anti").select(
            "url", "host", "domain"
        )
    if per_host_budget is None:
        return cand
    hash_fn = md5_prefix_hash if portable else F.xxhash64
    ordered = cand.withColumn(
        "__ord", F.pmod(hash_fn(F.col("url")), F.lit(_ORD_BITS))
    )
    if host_budget_overrides:
        from pyspark.sql import Window

        # keys lowercased to match url_host's output (robots_allowed
        # lowercases its dict the same way — a mixed-case key must
        # tighten the budget, not silently miss); case-collisions
        # keep the TIGHTEST budget (the conservative read)
        overrides: dict[str, int] = {}
        for h, b in host_budget_overrides.items():
            hl = h.lower()
            b = min(b, per_host_budget)
            overrides[hl] = min(b, overrides.get(hl, b))
        w = Window.partitionBy("host").orderBy(F.col("__ord"), F.col("url"))
        ranked = ordered.withColumn("__rn", F.row_number().over(w))
        if scale.crawl_overrides_literal(len(overrides)):
            # literal map + element_at: one flat expression, fine for
            # robots-table-sized maps
            pairs: list = []
            for h, b in sorted(overrides.items()):
                pairs += [F.lit(h), F.lit(b)]
            budget = F.coalesce(
                F.element_at(F.create_map(*pairs), F.col("host")),
                F.lit(per_host_budget),
            )
            capped = ranked.where(F.col("__rn") <= budget).drop("__rn")
        else:
            # tens of thousands of delay-declaring hosts: a literal
            # that size bloats analysis/codegen — broadcast-join the
            # (tiny relative to the frontier) budget table instead
            bdf = new_links.sparkSession.createDataFrame(
                sorted(overrides.items()), "host string, __budget int"
            )
            capped = (
                ranked.join(F.broadcast(bdf), "host", "left")
                .where(
                    F.col("__rn")
                    <= F.coalesce(F.col("__budget"), F.lit(per_host_budget))
                )
                .drop("__rn", "__budget")
            )
    else:
        from .corpus import cap_per_key

        capped = cap_per_key(
            ordered, ["host"], per_host_budget,
            [F.col("__ord"), F.col("url")],
        )
    return capped.select("url", "host", "domain")


#: changefreq -> recrawl interval (days); the sitemaps.org hint
#: vocabulary. 'always'/'hourly' mean "every visit is fine" (0 days);
#: 'never' means only a lastmod bump justifies a refetch.
CHANGEFREQ_DAYS: dict[str, int] = {
    "always": 0,
    "hourly": 0,
    "daily": 1,
    "weekly": 7,
    "monthly": 30,
    "yearly": 365,
}

#: recrawl-reason urgency weights (modified content outranks a new
#: URL outranks a merely stale one at equal overdue-age)
_REASON_WEIGHT = {"modified": 3, "new": 2, "stale": 1}


def recrawl_schedule(
    entries: DataFrame,
    history: DataFrame,
    as_of: str,
    url_col: str = "url",
    lastmod_col: str = "lastmod",
    changefreq_col: str = "changefreq",
    fetch_date_col: str = "last_fetch",
    default_interval_days: int = 7,
) -> DataFrame:
    """Recrawl scheduling from sitemap freshness hints — the pass
    that turns discovered sitemap entries (`sitemap_entries` output:
    url, lastmod, changefreq) plus the persisted fetch history into a
    prioritized refetch list:

    - never fetched                         -> due, reason 'new'
    - lastmod after the last fetch          -> due, reason 'modified'
    - age >= changefreq interval (hint map
      CHANGEFREQ_DAYS, default_interval
      when the hint is absent/unknown;
      'never' disables the age rule)       -> due, reason 'stale'

    score = reason_weight * 1000 + min(days overdue, 999) — exact
    integers, so ORDER BY (score DESC, url) is a total engine-
    reproducible order for budget cutting (feed the due rows into
    `crawl_frontier`'s per-host budgets).

    Output: one row per entry — (url, due, reason, last_fetch,
    days_since_fetch, interval_days, score).

    100 TB shape: one url-keyed left join against the bucketed
    history (only the sitemap batch shuffles), then zero-shuffle date
    arithmetic; no windows, no collects."""
    as_of_d = F.to_date(F.lit(as_of))
    cf = F.lower(F.col(changefreq_col))
    iv = F.when(cf == "never", F.lit(None).cast("long"))
    for k, v in CHANGEFREQ_DAYS.items():
        iv = iv.when(cf == k, F.lit(v).cast("long"))
    iv = iv.otherwise(F.lit(int(default_interval_days)).cast("long"))
    # append-style fetch logs carry one row per fetch: aggregate to
    # the LATEST fetch per URL first, or the join would fan out one
    # schedule row per historical fetch and score staleness against
    # long-superseded dates
    h = (
        history.select(
            F.col(url_col), F.col(fetch_date_col).cast("date").alias("__fetch")
        )
        .groupBy(url_col)
        .agg(F.max("__fetch").alias("__fetch"))
    )
    j = entries.join(h, url_col, "left")
    days_since = F.datediff(as_of_d, F.col("__fetch")).cast("long")
    lastmod_d = F.to_date(F.col(lastmod_col))
    reason = (
        F.when(F.col("__fetch").isNull(), F.lit("new"))
        .when(lastmod_d > F.col("__fetch"), F.lit("modified"))
        .when(
            F.col("__interval").isNotNull()
            & (days_since >= F.col("__interval")),
            F.lit("stale"),
        )
    )
    overdue = F.least(
        F.greatest(
            F.coalesce(days_since - F.coalesce(F.col("__interval"), F.lit(0)),
                       F.lit(0).cast("long")),
            F.lit(0).cast("long"),
        ),
        F.lit(999).cast("long"),
    )
    weight = F.coalesce(
        *[
            F.when(F.col("reason") == k, F.lit(v).cast("long"))
            for k, v in _REASON_WEIGHT.items()
        ],
    )
    return (
        j.withColumn("__interval", iv)
        .withColumn("reason", reason)
        .select(
            F.col(url_col).alias("url"),
            F.col("reason").isNotNull().alias("due"),
            "reason",
            F.col("__fetch").alias("last_fetch"),
            days_since.alias("days_since_fetch"),
            F.col("__interval").alias("interval_days"),
            F.when(
                F.col("reason").isNotNull(), weight * F.lit(1000) + overdue
            ).alias("score"),
        )
    )


def change_rate_intervals(
    history: DataFrame,
    url_col: str = "url",
    fetch_date_col: str = "fetch_date",
    fingerprint_col: str = "fingerprint",
    base_days: int = 7,
    min_days: int = 1,
    max_days: int = 60,
) -> DataFrame:
    """Adaptive recrawl intervals from OBSERVED change rates — the
    incremental-crawler estimator (Cho & Garcia-Molina 2003,
    "Effective Page Refresh Policies for Web Crawlers"): for each
    URL, compare consecutive fetch fingerprints, count changes over
    intervals, and derive a refetch interval inversely proportional
    to the change rate. Complements `recrawl_schedule` (sitemap HINTS
    say what the site claims; this measures what actually happened).

    interval_days = clamp(base_days * n_intervals // max(n_changes,1),
                          [min_days, max_days])

    — exact integer arithmetic end to end (change_rate is reported as
    ONE division of exact BIGINTs), so schedules are engine- and
    rerun-reproducible.

    Shape: one url-keyed window (lag over each URL's fetch sequence —
    bounded by per-URL history length) + one url-keyed aggregate.
    URLs with a single fetch have no observable rate: they report
    n_intervals = 0 and fall back to base_days."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(F.col(fetch_date_col).asc())
    seq = history.select(
        F.col(url_col),
        F.col(fetch_date_col),
        F.col(fingerprint_col).alias("__fp"),
    ).withColumn("__prev", F.lag("__fp").over(w))
    changed = F.when(
        F.col("__prev").isNotNull() & (F.col("__fp") != F.col("__prev")),
        F.lit(1),
    ).otherwise(F.lit(0))
    agg = (
        seq.withColumn("__chg", changed)
        .groupBy(url_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_intervals"),
            F.sum("__chg").cast("long").alias("n_changes"),
        )
    )
    raw_iv = F.expr(
        f"(CAST({int(base_days)} AS BIGINT) * n_intervals)"
        " div greatest(n_changes, 1)"
    )
    iv = F.when(F.col("n_intervals") == 0, F.lit(int(base_days)).cast("long")).otherwise(
        F.least(
            F.greatest(raw_iv, F.lit(int(min_days)).cast("long")),
            F.lit(int(max_days)).cast("long"),
        )
    )
    return agg.select(
        url_col, "n_fetches", "n_intervals", "n_changes",
        F.when(
            F.col("n_intervals") > 0,
            F.col("n_changes").cast("double") / F.col("n_intervals").cast("double"),
        ).alias("change_rate"),
        iv.alias("interval_days"),
    )
