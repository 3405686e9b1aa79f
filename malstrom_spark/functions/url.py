"""URL analysis for crawl corpora — host/domain extraction,
normalization, path depth: the keys every web-scale pipeline groups
by (per-domain caps, domain blocklists, URL-level dedup; RefinedWeb
§"URL filtering", C4's host-level dedup).

Built from plain regexp/string Columns, NOT `parse_url`, on purpose:
the same character-class-only patterns run identically under Java
regex (Spark) and RE2 (DuckDB), so every function here is
oracle-checkable bit-for-bit. All are zero-shuffle projections.

Scope, stated: absolute http(s)-style URLs. Userinfo (`user@host`)
is stripped; IPv6 bracket hosts and other malformed authorities
normalize to NULL (their colons fail the full-authority check).
Two eTLD+1 forms: `registrable_domain` (list-free column heuristic —
two-level-suffix subset, fine for telemetry) and
`registrable_domain_psl` (round 8: FULL Public Suffix List
semantics — exact/wildcard/exception rules, longest match, implicit
`*` default — as zero-shuffle literal-map lookups; `parse_psl` loads
the real publicsuffix.org file, a curated real-entry slice ships as
the default). Per-domain capping should key on the PSL form.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
# after scheme: optional userinfo@, then host = everything before
# : / ? #
_HOST = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
# port digits must run to an authority terminator ([/?#] or end) —
# otherwise 'http://h:80x/p' would partial-match port=80 and a junk
# URL could collide with a valid one after normalization. RE2 has no
# lookahead, so the terminator is a non-capturing alternation.
_PORT = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)(?:[/?#]|$)"
# full-authority validity: host chars + optional :digits must consume
# the ENTIRE authority. Guards url_normalize against malformed
# authorities (bad ports, multiple colons, IPv6 brackets) that the
# per-component extracts would otherwise silently "clean up".
_AUTH_OK = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+(?::[0-9]+)?(?:[/?#]|$)"
_PATH = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
# anchored so a '?' INSIDE the fragment can't resurrect as a query
# ('…/page#sec?x=1' has no query): the chars before the '?' must not
# contain '#'
_QUERY = r"^[^#?]*\?([^#]*)"

# high-traffic two-level public suffixes (PSL subset; see module doc)
TWO_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
]


def url_scheme(url: Column) -> Column:
    """Lowercased scheme, '' when the value isn't an absolute URL."""
    return F.lower(F.regexp_extract(url, _SCHEME, 1))


def url_host(url: Column) -> Column:
    """Lowercased host (userinfo stripped, port excluded); '' for
    non-URLs."""
    return F.lower(F.regexp_extract(url, _HOST, 1))


def url_port(url: Column) -> Column:
    """Explicit port as int; NULL when absent."""
    p = F.regexp_extract(url, _PORT, 1)
    return F.when(p != "", p.cast("int"))


def url_path(url: Column) -> Column:
    """Path component, normalized to '/' when empty."""
    p = F.regexp_extract(url, _PATH, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_path_depth(url: Column) -> Column:
    """Number of non-empty path segments ('/a/b/' -> 2)."""
    segs = F.filter(F.split(url_path(url), "/"), lambda s: s != "")
    return F.size(segs).cast("int")


def url_normalize(url: Column) -> Column:
    """Canonical form for URL-level dedup: lowercased scheme+host,
    userinfo dropped, default port dropped (80 for http, 443 for
    https; other ports kept), fragment dropped, query kept verbatim,
    empty path -> '/'. Non-URL values AND malformed authorities
    (':80x' ports, IPv6 bracket hosts, multiple colons) normalize to
    NULL (filter or quarantine them) — a malformed input must never
    emit a cleaned-looking URL that collides with a valid one during
    URL-level dedup."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    keep_port = port.isNotNull() & ~(
        ((scheme == "http") & (port == 80))
        | ((scheme == "https") & (port == 443))
    )
    q = F.regexp_extract(url, _QUERY, 1)
    auth_ok = F.regexp_extract(url, _AUTH_OK, 0) != ""
    return F.when(
        (scheme != "") & (host != "") & auth_ok,
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port.cast("string"))).otherwise(
                F.lit("")
            ),
            url_path(url),
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ),
    )


def registrable_domain(host: Column) -> Column:
    """eTLD+1 under the embedded two-level-suffix subset: one extra
    label above a known two-level suffix, else the last two labels.
    Single-label hosts (localhost, intranet names) pass through."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    is_two_level = last2.isin(TWO_LEVEL_SUFFIXES)
    return (
        F.when(n <= 1, host)
        .when(
            is_two_level & (n >= 3),
            F.concat_ws(".", F.element_at(parts, -3), last2),
        )
        # a bare two-level suffix (n == 2) falls through to last2 too
        .otherwise(last2)
    )


# ------------------------------------------------- full-PSL eTLD+1

#: Curated slice of the Mozilla Public Suffix List (publicsuffix.org,
#: MPL-2.0 data), in the list's own rule syntax: plain rules,
#: wildcard rules (`*.`) and exception rules (`!`). This default
#: keeps the module dependency-free; pass the real file's text to
#: `parse_psl` to run with the complete list (~9k rules — still
#: comfortably inside literal-plan limits, see registrable_domain_psl).
DEFAULT_PSL_RULES = [
    # generic second-levels
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk",
    "sch.uk", "ac.uk", "gov.uk", "nhs.uk", "police.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.mx", "org.mx", "gob.mx",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "gov.in",
    "co.kr", "ne.kr", "or.kr", "go.kr", "re.kr",
    "co.za", "net.za", "org.za", "gov.za",
    "com.tr", "net.tr", "org.tr", "gen.tr", "gov.tr", "edu.tr",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz",
    "com.sg", "edu.sg", "gov.sg",
    "com.hk", "edu.hk", "gov.hk", "org.hk",
    "com.tw", "org.tw", "gov.tw",
    "co.il", "org.il", "ac.il", "gov.il",
    "com.ar", "com.co", "com.pe", "com.ve", "com.eg",
    "co.th", "ac.th", "in.th", "go.th",
    "com.my", "com.ph", "com.vn", "com.ng", "co.ke", "co.tz",
    "co.id", "web.id", "ac.id",
    # wildcard + exception rules (the PSL semantics the two-level
    # subset could not express)
    "*.ck", "!www.ck",
    "*.kawasaki.jp", "!city.kawasaki.jp",
    "*.kitakyushu.jp", "!city.kitakyushu.jp",
    # private-section entries production cappers usually want
    "github.io", "blogspot.com", "s3.amazonaws.com",
]


def parse_psl(text: str) -> list[str]:
    """Parse the Public Suffix List file format (one rule per line,
    `//` comments, blank lines, optional leading/trailing space) into
    the rule-string list `registrable_domain_psl` takes. Feed it the
    verbatim https://publicsuffix.org/list/public_suffix_list.dat."""
    rules = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        rules.append(line.lower())
    return rules


def _compile_psl(rules: list[str]):
    """rules -> (exact: {suffix: n_labels}, wild: {base: n_labels},
    exc: {suffix: n_labels}) lookup dicts."""
    exact: dict[str, int] = {}
    wild: dict[str, int] = {}
    exc: dict[str, int] = {}
    for r in rules:
        r = r.lower()
        if r.startswith("!"):
            s = r[1:]
            exc[s] = s.count(".") + 1
        elif r.startswith("*."):
            s = r[2:]
            if not s:
                raise ValueError("bare '*' wildcard rule is the implicit default")
            wild[s] = s.count(".") + 1
        else:
            exact[r] = r.count(".") + 1
    return exact, wild, exc


def _lit_map(d: dict[str, int]) -> Column | None:
    if not d:
        return None
    # ONE foldable literal via from_json (round-12 session 4: even
    # F.lit(list) pays one py4j round-trip per element — see
    # functions/litutil.py). Values are only probed via .isNotNull().
    from .litutil import json_lit_map

    return json_lit_map({k: int(v) for k, v in d.items()}, "int")


def public_suffix_len(host: Column, rules: list[str] | None = None) -> Column:
    """Number of labels in the host's public suffix under the full
    PSL algorithm (publicsuffix.org/list/): the prevailing rule is
    the matching EXCEPTION rule if any (its suffix is the rule minus
    its leading label), else the LONGEST matching rule, where a
    wildcard `*.base` matches base plus exactly one more label; no
    match -> the implicit `*` rule (last label). Lookups are literal
    maps over the last-k-label candidate strings — zero shuffle, zero
    Python, fuses into the scan; the complete PSL is ~9k rules ≈ 18k
    literal nodes, a plan size that stays small next to the scan."""
    exact, wild, exc = _compile_psl(rules or DEFAULT_PSL_RULES)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    max_k = max(
        [1]
        + [v for v in exact.values()]
        + [v for v in exc.values()]
        + [v + 1 for v in wild.values()]
    )
    m_exact, m_wild, m_exc = _lit_map(exact), _lit_map(wild), _lit_map(exc)

    def last_k(k: int) -> Column:
        return F.array_join(F.slice(parts, -k, k), ".")

    # F.slice with negative start needs n >= k; guard with n.
    # One flat greatest() over INDEPENDENT per-k terms (round-12):
    # the former iterative `ps = when(...).otherwise(ps)` accumulation
    # embedded the whole previous expression twice per step, doubling
    # the tree 9 times (~2^9 copies of the literal maps) — measured as
    # 1.5 s of analysis/codegen per query plus an equally slow
    # interpreted projection. Equivalence: the loop computed
    # max(1, matching exact k's, matching wild k+1's) in increasing-k
    # greatest() steps, which is exactly this flat maximum.
    terms = [F.lit(1)]
    for k in range(1, max_k + 1):
        cand = last_k(k)
        ok = n >= k
        if m_exact is not None:
            terms.append(
                F.when(ok & m_exact[cand].isNotNull(), F.lit(k)).otherwise(F.lit(1))
            )
        # wildcard base matched by the last k labels extends the
        # suffix one label further (requires that label to exist)
        if m_wild is not None:
            terms.append(
                F.when(
                    (n >= k + 1) & m_wild[last_k(k)].isNotNull(), F.lit(k + 1)
                ).otherwise(F.lit(1))
            )
    ps = F.greatest(*terms) if len(terms) > 1 else terms[0]
    if m_exc is not None:
        # exception rules PREVAIL: public suffix = rule minus its
        # leading label; the loop form overwrote in increasing-k
        # order, i.e. the LARGEST matching k won — a flat maximum too
        exc_terms = [F.lit(0)] + [
            F.when((n >= k) & m_exc[last_k(k)].isNotNull(), F.lit(k)).otherwise(
                F.lit(0)
            )
            for k in range(1, max_k + 1)
        ]
        exc_k = F.greatest(*exc_terms)
        ps = F.when(exc_k > 0, exc_k - F.lit(1)).otherwise(ps)
    return ps


def registrable_domain_psl(
    host: Column, rules: list[str] | None = None
) -> Column:
    """eTLD+1 under full PSL semantics (wildcards, exceptions,
    longest-match, implicit `*` default): the public suffix plus one
    preceding label. NULL when the host IS a public suffix (nothing
    is registrable there — per-domain caps must not group on it) or
    empty. The column-only `registrable_domain` stays as the
    list-free fallback for corpus telemetry; THIS is the form
    per-domain capping should key on. Zero-shuffle projection."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    ps = public_suffix_len(host, rules)
    k = ps + F.lit(1)
    return F.when(
        (host != "") & (n > ps),
        F.array_join(F.slice(parts, -k, k), "."),
    )


def psl_rules_sql(rules: list[str] | None = None) -> str:
    """Render the compiled rule table as DuckDB VALUES rows
    `(kind, suffix, nl)` with kind e=exact, w=wildcard base,
    x=exception — the oracle-side twin of the literal maps in
    `public_suffix_len` (queries re-derive eTLD+1 in SQL from the
    SAME rules)."""
    exact, wild, exc = _compile_psl(rules or DEFAULT_PSL_RULES)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = (
        [f"('e', {q(s)}, {n})" for s, n in sorted(exact.items())]
        + [f"('w', {q(s)}, {n})" for s, n in sorted(wild.items())]
        + [f"('x', {q(s)}, {n})" for s, n in sorted(exc.items())]
    )
    return ", ".join(rows)
