"""Web-ingest front of the curation funnel: URL canonicalization,
registrable-domain extraction, and URL-level exact dedup — the steps
C4 / RefinedWeb-style pipelines run BEFORE any text rule (a crawl
sees the same page under utm-tagged, fragment-bearing, mixed-case,
default-port variants of one URL; deduplicating on the canonical
form is the cheapest dedup in the whole ladder).

Everything here is a pure Column expression — no UDF, no join, no
shuffle (``url_dedup``'s single groupBy on the canonical key is the
only exchange in the family). Every regex is RE2-compatible (no
backreferences or lookarounds), so a DuckDB oracle replays the
identical chain.

Reference parity note: the reference engine (markmo/featurestore) has
no web-ingest surface; these operators cover the LLM-training-data
pipeline gap called out in VERDICT r7 (#3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tracking parameters stripped by canonical_url: any name with the
# `utm_` prefix, plus these exact names (the common click-id params).
TRACKING_PARAMS = ["gclid", "fbclid", "msclkid", "igshid", "mc_eid"]

# Built-in public-suffix snapshot used when the caller supplies no
# list: the high-traffic exact rules (generic + country-code TLDs and
# the frequent second-level registries), two private-section entries
# (github.io, herokuapp.com) so multi-label suffixes are exercised,
# and representative wildcard (`*.`) / exception (`!`) rules in PSL
# file syntax — `*.ck`/`!www.ck` are the PSL's own canonical pair,
# `*.compute.amazonaws.com` the highest-impact platform wildcard (it
# is what keeps every EC2 customer's hosts from rolling up into one
# "amazonaws.com" domain). This is a deliberately small SNAPSHOT of
# the Mozilla Public Suffix List — at production scale pass the full
# list via ``suffixes=`` (all three rule kinds are supported).
PUBLIC_SUFFIXES = [
    # generic TLDs
    "com", "net", "org", "edu", "gov", "mil", "int", "info", "biz",
    "io", "ai", "co", "dev", "app", "xyz", "me", "tv", "cc",
    # country-code TLDs
    "us", "uk", "fr", "de", "jp", "au", "ca", "cn", "ru", "br", "in",
    "it", "nl", "es", "se", "ch", "pl", "kr", "tw", "mx", "ar", "za",
    "nz", "sg", "hk", "tr",
    # frequent second-level registries
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "ac.in",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.mx", "org.mx", "co.za", "org.za", "ac.za",
    "com.ar", "com.tr", "com.sg", "com.hk", "co.kr", "or.kr",
    "com.tw",
    # private-section examples (hosting platforms)
    "github.io", "herokuapp.com",
    # wildcard + exception rules (PSL file syntax)
    "*.ck", "!www.ck", "*.bd", "*.compute.amazonaws.com",
]


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def url_parts(url_col: str | Column = "url") -> dict[str, Column]:
    """RFC-3986-ish split of a URL into Column expressions:
    ``scheme`` (lowercased, '' if absent), ``host`` (lowercased,
    userinfo and trailing dot stripped), ``port`` ('' if absent),
    ``path`` (verbatim, '' if absent), ``query`` ('' if absent; the
    part between '?' and '#'). The fragment is dropped — it never
    reaches the server.

    Greedy `.*@` strips through the LAST '@' (RFC: '@' cannot appear
    in the host), so `user:p@ss@host` parses correctly."""
    sans_frag = F.regexp_replace(_col(url_col), r"(?s)#.*$", "")
    scheme = F.lower(F.regexp_extract(sans_frag, r"^([^:/?#]+)://", 1))
    rest = F.regexp_replace(sans_frag, r"^[^:/?#]+://", "")
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.regexp_replace(authority, r"^.*@", "")
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, r":[0-9]*$", "")), r"\.$", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    pathq = F.regexp_replace(rest, r"^[^/?#]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"(?s)\?(.*)$", 1)
    return {
        "scheme": scheme,
        "host": host,
        "port": port,
        "path": path,
        "query": query,
    }


def canonical_url(
    url_col: str | Column = "url",
    *,
    default_scheme: str = "http",
    strip_www: bool = False,
) -> Column:
    """Canonical form of a URL, as a pure Column expression:

    - scheme and host lowercased; missing scheme → ``default_scheme``;
      a trailing dot on the host is dropped
    - userinfo and fragment stripped
    - default ports dropped (``:80`` for http, ``:443`` for https);
      other ports kept
    - path: trailing slashes stripped (``/a/b/`` → ``/a/b``), empty
      path → ``/``
    - query: parameters split on '&', empty params and tracking
      params (`utm_*` prefix + :data:`TRACKING_PARAMS`) dropped, the
      REMAINDER SORTED lexicographically and rejoined — so the same
      page crawled with reordered or utm-tagged params keys
      identically; '?' disappears when nothing remains
    - ``strip_www=True`` additionally drops one leading ``www.``
      label (off by default: `www` and apex CAN serve different
      content; turn it on when keying a crawl frontier)

    NULL url → NULL, and so does any url whose parsed HOST is empty
    (schemeless path-only inputs like ``/robots.txt``, empty-authority
    forms like ``http:///x``): without a host there is no fetchable
    resource, and mapping all such malformed rows to near-identical
    ``http:///...`` keys would merge DISTINCT resources in
    `url_dedup` (which drops NULL keys instead — the fail-safe
    direction). IPv6 literal hosts (``[::1]:8080``) are out of scope:
    they pass through unnormalized (the bracket form defeats the
    port-stripping regex), so equivalent spellings of one v6 address
    may key differently — irrelevant at crawl scale, where hosts are
    names. No '%'-decoding: percent-encoding is case-normalized
    nowhere and decoding can change semantics — a canonicalizer must
    never map two DIFFERENT resources together.
    """
    p = url_parts(url_col)
    scheme = F.when(p["scheme"] == "", F.lit(default_scheme)).otherwise(
        p["scheme"]
    )
    host = p["host"]
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    default_port = (
        (scheme == "http") & (p["port"] == "80")
        | (scheme == "https") & (p["port"] == "443")
        | (p["port"] == "")
    )
    port = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), p["port"])
    )
    stripped = F.regexp_replace(p["path"], r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    drop_names = F.array(*[F.lit(n) for n in TRACKING_PARAMS])
    params = F.array_sort(
        F.filter(
            F.split(p["query"], "&"),
            lambda kv: (kv != "")
            & ~F.regexp_extract(kv, r"^([^=]*)", 1).startswith("utm_")
            & ~F.array_contains(
                drop_names, F.regexp_extract(kv, r"^([^=]*)", 1)
            ),
        )
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        _col(url_col).isNotNull() & (host != ""),
        F.concat(scheme, F.lit("://"), host, port, path, query),
    )


def parse_suffix_rules(
    suffixes: list[str],
) -> tuple[list[str], list[str], list[str]]:
    """Split a PSL-syntax rule list into (exact, wildcard-stems,
    exception-rules), all lowercased: ``*.ck`` contributes stem
    ``ck``; ``!www.ck`` contributes exception ``www.ck``; everything
    else is an exact rule. Follows the PSL file format, so the raw
    Mozilla list feeds in verbatim: blank lines and ``//`` comment
    lines are skipped, and each rule reads up to its first whitespace
    (the spec's "only up to the first whitespace" clause). Shared by
    the Spark operator and the catalog's oracle-SQL generator so both
    sides parse identically."""
    exact: list[str] = []
    wildcard: list[str] = []
    exception: list[str] = []
    for s in suffixes:
        s = s.strip().lower()
        if not s or s.startswith("//"):
            continue
        s = s.split()[0]
        if s.startswith("!"):
            exception.append(s[1:])
        elif s.startswith("*."):
            wildcard.append(s[2:])
        else:
            exact.append(s)
    return exact, wildcard, exception


def registrable_domain(
    host_col: str | Column,
    *,
    suffixes: list[str] | None = None,
) -> Column:
    """eTLD+1 (the "registrable domain") of a hostname, as a pure
    Column expression implementing the PSL algorithm over
    ``suffixes`` (default :data:`PUBLIC_SUFFIXES`, PSL file syntax):

    - **exception rules** (``!www.ck``) prevail over everything: a
      host whose trailing labels match one has public suffix = the
      rule minus its leftmost label, so the rule itself IS the
      registrable domain (``x.www.ck`` → ``www.ck``);
    - otherwise the LONGEST matching rule wins, where a **wildcard
      rule** (``*.ck``) matches any host ``<label>.ck`` with public
      suffix ``<label>.ck`` (``shop.coral.ck`` → suffix ``coral.ck``
      → domain needs one more label) and an **exact rule** matches
      its own labels;
    - the registrable domain is the matched suffix plus one label. A
      host that IS a bare public suffix — or whose suffix doesn't
      appear in the list AND has only one label — yields NULL.
      Unlisted multi-label hosts fall back to the last-label rule
      (the PSL's prevailing ``*`` default).

    The rule sets are embedded as literal arrays (membership via
    `array_contains`), so extraction is join-free and shuffle-free —
    the full PSL's ~9k rules embed fine; per-row cost is one array
    lookup per distinct rule length."""
    sfx = suffixes if suffixes is not None else PUBLIC_SUFFIXES
    exact, wildcard, exception = parse_suffix_rules(sfx)
    host = F.lower(_col(host_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def tail(k: int) -> Column:
        return F.array_join(F.slice(labels, -k, k), ".")

    matched = F.lit(None).cast("int")
    # exception rules first (PSL: an exception rule prevails over any
    # other matching rule, regardless of length); a tail of ke labels
    # can only equal a rule with ke labels, so one membership lookup
    # per DISTINCT exception length suffices
    exc_lens = sorted({len(e.split(".")) for e in exception}, reverse=True)
    if exception:
        exc_arr = F.array(*[F.lit(e) for e in exception])
        for ke in exc_lens:
            matched = F.coalesce(
                matched,
                F.when(
                    (n >= ke) & F.array_contains(exc_arr, tail(ke)),
                    F.lit(ke - 1),
                ),
            )
    # then longest-match across exact rules and wildcard stems: an
    # effective suffix of L labels comes from an exact rule with L
    # labels OR a wildcard stem with L-1 (tail(k) has exactly k
    # labels, so a single combined array per kind is length-safe).
    # Never cap the walk below the longest rule actually present, or
    # a 4-label platform wildcard (*.compute.amazonaws.com) silently
    # falls to the 'com' rule and merges every customer's hosts into
    # one "domain".
    max_l = max(
        [len(s.split(".")) for s in exact]
        + [len(w.split(".")) + 1 for w in wildcard]
        or [1]
    )
    exact_arr = F.array(*[F.lit(s) for s in exact]) if exact else None
    wc_arr = F.array(*[F.lit(w) for w in wildcard]) if wildcard else None
    for k in range(max_l, 0, -1):
        cond = F.lit(False)
        if exact:
            cond = cond | F.array_contains(exact_arr, tail(k))
        if wildcard and k >= 2:
            cond = cond | F.array_contains(wc_arr, tail(k - 1))
        matched = F.coalesce(
            matched, F.when((n >= k) & cond, F.lit(k))
        )
    # unlisted multi-label host: prevailing rule is suffix = last label
    matched = F.coalesce(matched, F.lit(1))
    return F.when((n > matched) & (host != ""), F.array_join(
        F.slice(labels, -(matched + 1), matched + 1), "."
    ))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    *,
    strip_www: bool = False,
) -> DataFrame:
    """URL-level exact dedup keyed on the canonical form — the
    `exact_dedup` of the web-ingest front. Returns one row per
    distinct canonical URL:

    (canonical_url, keep_id [minimum id], n_dups)

    NULL urls — and urls whose canonical form is NULL (empty parsed
    host; see `canonical_url`) — are dropped (no fetchable resource).
    One hash-groupBy on the canonical string — map-side combine
    collapses the duplicate mass before the exchange, exactly like
    the text-level collapse; join the keeper ids back to the corpus
    to materialize the kept rows."""
    from featurestore_spark.operators.materialize import plan_fence

    # the cheap source-column filter stays BELOW the fence (pushdown
    # to the scan); the canonical-null filter sits ABOVE it — filtered
    # unfenced, Catalyst inlines the whole canonicalization chain
    # (regexps + the interpreted query-param sort/filter HOFs) into
    # the Filter as well as the groupBy key (VERDICT r11 pathology
    # class; measured on q_web_funnel/q_crawl_frontier, PLANS r12)
    keyed = plan_fence(
        df.where(F.col(url_col).isNotNull()).select(
            F.col(id_col),
            canonical_url(url_col, strip_www=strip_www).alias(
                "canonical_url"
            ),
        )
    )
    return (
        keyed.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def url_word_score(
    url_col: str | Column = "url",
    terms: dict[str, float] | None = None,
    *,
    decimals: int | None = 4,
) -> Column:
    """Soft URL-content score (RefinedWeb §3.1's word-based URL
    filtering): the URL is broken into words — lowercased, split on
    runs of non-alphanumeric characters, so host labels, path
    segments, query names and values all contribute — and the score
    is the sum over word OCCURRENCES of each word's weight in
    ``terms`` (unlisted words contribute 0). Callers drop pages whose
    score crosses their threshold (`filter_urls`); weights encode
    severity, the published recipe's "strict/soft/generic" term
    tiers.

    Pure Column expression: the term list rides the plan as a literal
    map (RefinedWeb's curated lists are hundreds of terms — far below
    literal-map limits; a million-term list belongs in
    `filter_domains`-style table form instead). The fold runs
    left-to-right over the token array, so an oracle replaying the
    same order reproduces the float sum bit-for-bit; ``decimals``
    rounds the result (None to disable). NULL url → NULL."""
    if not terms:
        raise ValueError("url_word_score: terms must be a non-empty dict")
    # lowercase-dedupe the term keys in Python: two keys differing
    # only in case would otherwise become duplicate map keys, which
    # Spark's default mapKeyDedupPolicy=EXCEPTION turns into an opaque
    # executor failure at runtime. Equal-weight collisions merge;
    # conflicting weights are a caller bug — fail with a clear error.
    lowered: dict[str, float] = {}
    for term, w in terms.items():
        lt, fw = term.lower(), float(w)
        if lt in lowered and lowered[lt] != fw:
            raise ValueError(
                f"url_word_score: terms {term!r} collides with another "
                f"key on lowercase form {lt!r} but carries a different "
                f"weight ({fw} vs {lowered[lt]}) — terms are matched "
                "case-insensitively, so merge or rename them"
            )
        lowered[lt] = fw
    toks = F.filter(
        F.split(F.lower(_col(url_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    m = F.create_map(
        *[
            x
            for term, w in lowered.items()
            for x in (F.lit(term), F.lit(w))
        ]
    )
    score = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.try_element_at(m, t), F.lit(0.0)),
    )
    return F.round(score, decimals) if decimals is not None else score


def filter_urls(
    df: DataFrame,
    url_col: str = "url",
    *,
    terms: dict[str, float],
    threshold: float,
    score_col: str = "url_score",
) -> DataFrame:
    """Keep rows whose `url_word_score` is strictly below
    ``threshold`` (NULL urls score NULL and are KEPT — no URL
    evidence against them; drop NULL urls upstream if unwanted).
    Adds ``score_col`` to the output. Zero-exchange projection +
    filter — composes into the web funnel between URL dedup and
    text extraction, exactly where the published pipelines run it."""
    scored = df.withColumn(score_col, url_word_score(url_col, terms))
    return scored.where(
        F.col(score_col).isNull() | (F.col(score_col) < F.lit(threshold))
    )


def filter_domains(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    *,
    blocklist_col: str = "domain",
    out_col: str = "domain",
    suffixes: list[str] | None = None,
    keep_unattributed: bool = True,
    broadcast: bool = True,
) -> DataFrame:
    """Drop every row whose URL's registrable domain appears in
    ``blocklist`` — the hard URL filter every published crawl
    pipeline runs before text extraction (C4's RFC-badwords domains,
    RefinedWeb's 4.6M-domain UT1 blocklist). Returns the SURVIVING
    rows of `df` plus ``out_col`` (the registrable domain, kept for
    downstream rollups).

    `blocklist` is a DataFrame with ``blocklist_col`` (one domain per
    row) — production blocklists are millions of rows, so membership
    is a TABLE anti-join, never a literal array. Entries are
    normalized (lower/trim) and deduplicated before the join;
    ``broadcast=True`` (default) broadcasts them — a 4.6M-domain list
    of short strings is ~100 MB, well inside executor budgets — and
    `broadcast=False` falls back to a shuffled anti-join for
    pathological lists. Rows with NO registrable domain (malformed or
    empty hosts, bare public suffixes) can't be attributed to a
    blocked domain and are KEPT by default; ``keep_unattributed=
    False`` drops them instead (the strict variant)."""
    p = url_parts(url_col)
    with_dom = df.withColumn(
        out_col, registrable_domain(p["host"], suffixes=suffixes)
    )
    if not keep_unattributed:
        with_dom = with_dom.where(F.col(out_col).isNotNull())
    bl = (
        blocklist.select(
            F.lower(F.trim(F.col(blocklist_col))).alias(out_col)
        )
        .where(F.col(out_col) != "")
        .distinct()
    )
    if broadcast:
        bl = F.broadcast(bl)
    # left_anti: NULL domains never match a blocklist row, so
    # unattributed rows survive the join (the keep_unattributed=True
    # contract) without a special case
    return with_dom.join(bl, out_col, "left_anti")


def cap_per_domain(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    *,
    order_col: str | None = None,
    id_col: str = "doc_id",
    out_col: str = "domain",
    suffixes: list[str] | None = None,
    keep_unattributed: bool = True,
) -> DataFrame:
    """Keep at most ``cap`` rows per registrable domain — the
    per-domain cap the published crawl pipelines apply after URL
    dedup (RefinedWeb limits URLs per domain; C4-style pipelines cap
    dominant hosts) so no single site floods the corpus. Returns the
    kept rows plus ``out_col`` (the registrable domain).

    Within a domain, rows are ranked by ``order_col`` DESCENDING
    (NULLs last — pass the quality/length signal to keep the best
    pages) with ``id_col`` ascending as the tiebreak; ``order_col=
    None`` ranks by id alone (keep-first). Rows with NO registrable
    domain bypass the cap and are kept by default — besides having no
    domain to attribute, funneling them into one shared NULL window
    partition would both mis-cap unrelated pages as one "site" and
    build the exact skewed partition this operator exists to avoid;
    ``keep_unattributed=False`` drops them instead.

    Scale shape: ONE corpus scan and ONE `row_number` window with a
    bare ``rn <= cap`` filter. The window key is the domain, with
    NULL-domain rows keyed on their own id (a NUL-prefixed surrogate
    that can never collide with a hostname): each forms a singleton
    partition whose single row ranks 1 <= cap — so the keep-
    unattributed contract costs nothing, the shared-NULL skew
    partition never exists, AND the filter stays a pure rank limit,
    which is what lets Spark plan a WindowGroupLimit below the
    exchange (rank-limit pushdown): each map task pre-prunes to its
    local top-``cap`` per domain before shuffling — a billion-page
    domain ships ~cap rows per input partition, not a billion. (A
    two-branch filter+union formulation reads the corpus twice —
    measured 3x this plan — and an OR-bypass predicate defeats
    WindowGroupLimit.) One documented edge: rows with NEITHER a
    registrable domain NOR an id share one surrogate group and are
    capped together (no deterministic order exists among them anyway
    — give rows ids)."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap_per_domain: cap must be >= 1, got {cap}")
    p = url_parts(url_col)
    with_dom = df.withColumn(
        out_col, registrable_domain(p["host"], suffixes=suffixes)
    )
    if not keep_unattributed:
        with_dom = with_dom.where(F.col(out_col).isNotNull())
    order = [F.col(id_col).asc()]
    if order_col is not None:
        order = [F.col(order_col).desc_nulls_last()] + order
    key = F.coalesce(
        F.col(out_col), F.concat(F.lit("\x00"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(key).orderBy(*order)
    return (
        with_dom.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def domain_rollup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    *,
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Per-registrable-domain corpus profile — the signal behind
    domain-level quality decisions (blocklists, per-domain caps à la
    C4's dedup-by-domain, crawl-budget allocation):

    (domain, n_urls, n_canonical, min_id)

    `n_canonical` counts distinct canonical URLs, so
    `n_urls - n_canonical` is the crawl's per-domain duplicate mass.
    One groupBy on the domain key; hosts with no registrable domain
    (bare suffixes, empty hosts) land in the NULL group."""
    p = url_parts(url_col)
    return (
        df.where(F.col(url_col).isNotNull())
        .select(
            F.col(id_col),
            registrable_domain(p["host"], suffixes=suffixes).alias("domain"),
            canonical_url(url_col).alias("canonical_url"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical_url").alias("n_canonical"),
            F.min(id_col).alias("min_id"),
        )
    )


# ---------------------------------------------------------------------------
# Outlink graph + domain ranking: the crawl-frontier-prioritization
# stage (Common Crawl publishes exactly this artifact — a domain-level
# webgraph with PageRank/harmonic-centrality ranks — and production
# crawlers allocate fetch budget by it; Page et al. 1999).
# ---------------------------------------------------------------------------

# href attribute with either quote kind. RE2-portable (no
# backreference), so the mixed-quote edge case href="x' is matched —
# documented, harmless for ranking purposes (the value fails the
# absolute-URL filter or parses as a URL either way).
HREF_PATTERN = r"""(?i)href\s*=\s*["']([^"']+)["']"""


def extract_links(
    html_col: str | Column = "html",
    *,
    absolute_only: bool = True,
) -> Column:
    """Array of href targets in document order from raw HTML — the
    outlink half of the crawl graph (the document's own URL is the
    inlink half). Pure Column expression: one `regexp_extract_all`
    over :data:`HREF_PATTERN` plus an optional scheme filter; no UDF,
    no explode, no shuffle.

    ``absolute_only=True`` (default) keeps only absolute ``http(s)``
    targets — relative paths, ``mailto:``/``javascript:``/fragment
    hrefs are navigation noise for a DOMAIN-level graph. Resolving
    relative hrefs against the page URL is deliberately out of scope
    here: they point at the page's own host, which a domain graph
    models as a self-loop that :func:`link_graph` drops anyway."""
    links = F.regexp_extract_all(_col(html_col), F.lit(HREF_PATTERN), F.lit(1))
    if absolute_only:
        links = F.filter(links, lambda u: u.rlike(r"(?i)^https?://"))
    return links


def link_graph(
    df: DataFrame,
    *,
    url_col: str = "url",
    html_col: str = "html",
    suffixes: list[str] | None = None,
    drop_self_loops: bool = True,
) -> DataFrame:
    """Domain-level outlink edges from a crawl frame:

    (src_domain, dst_domain, n_links)

    src is the registrable domain of the page's own URL, dst the
    registrable domain of each extracted absolute href; ``n_links``
    counts the raw href occurrences behind the edge (the natural edge
    weight — a page linking a domain 40 times endorses it once per
    link, and :func:`domain_pagerank` can normalize by it). Rows
    whose src or dst has no registrable domain (malformed URL, bare
    public suffix) are dropped, as are self-loops by default (a
    domain's links to itself carry no cross-domain signal and at
    crawl scale are the single heaviest edge class).

    Shape at 100 TB: the explode multiplies rows by links-per-page
    (tens), but each exploded row is just two short domain strings —
    the page payload is projected away BEFORE the explode; the one
    exchange is the (src, dst) groupBy, and map-side combine
    collapses the heavy-edge mass pre-shuffle.

    The null/self-loop filters sit above a :func:`plan_fence`
    (Generate barrier): filtering the raw ``src_domain``/
    ``dst_domain`` aliases made Catalyst substitute the whole
    `registrable_domain(url_parts(...))` regex/CASE tree into the
    Filter, the Project, AND the pushed-down FileScan DataFilters —
    the fused expression blew janino's 64 KB method limit and the
    edge-extraction + HashAggregate stage (the one that touches
    every page) fell back to INTERPRETED execution while
    triple-evaluating the PSL chain (VERDICT r11). Fenced, each
    domain computes exactly once and the stage whole-stage-codegens;
    the cost is exploding hrefs of the rare no-registrable-src pages
    that the old pushed filter skipped."""
    from featurestore_spark.operators.materialize import plan_fence

    src = registrable_domain(
        url_parts(url_col)["host"], suffixes=suffixes
    ).alias("src_domain")
    pairs = plan_fence(
        df.select(src, F.explode(extract_links(html_col)).alias("_link"))
        .select(
            "src_domain",
            registrable_domain(
                url_parts("_link")["host"], suffixes=suffixes
            ).alias("dst_domain"),
        )
    ).where(
        F.col("src_domain").isNotNull() & F.col("dst_domain").isNotNull()
    )
    if drop_self_loops:
        pairs = pairs.where(F.col("src_domain") != F.col("dst_domain"))
    return pairs.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def merge_link_graphs(*graphs: DataFrame) -> DataFrame:
    """Merge (src_domain, dst_domain, n_links) edge frames, summing
    weights per edge — the recrawl-extension rung for the link graph
    (the `extend_index` convention applied to edges): each crawl
    batch's :func:`link_graph` output merges into the persisted
    graph, then :func:`domain_pagerank` with ``seed_ranks=`` resumes
    from the previous ranks instead of restarting from uniform. One
    union + one (src, dst)-keyed groupBy; map-side combine collapses
    the batch's mass before the exchange."""
    if not graphs:
        raise ValueError("merge_link_graphs: need at least one frame")
    from functools import reduce

    merged = reduce(lambda a, b: a.unionByName(b), graphs)
    return merged.groupBy("src_domain", "dst_domain").agg(
        F.sum("n_links").alias("n_links")
    )


def domain_pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    weight_col: str | None = None,
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int | None = 1,
    seed_ranks: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst[, weight]) edge
    frame → (domain, pr). The crawl-budget / frontier-prioritization
    rank: seed every node at 1/N, then iterate

        pr'(v) = (1-d)/N + d * (Σ_{u→v} pr(u)·w(u,v)/outw(u)
                                + dangling_mass/N)

    where ``outw(u)`` is u's total out-weight and the rank mass
    sitting on dangling nodes (no out-edges — every dst-only domain
    in a link graph) is redistributed uniformly, so Σ pr == 1 after
    every iteration (the classic teleport formulation; dropping the
    dangling term leaks mass and underranks everything a dangling
    page points at — it is not optional at crawl scale, where most
    discovered domains are not yet fetched and therefore dangling).

    ``weight_col=None`` treats every edge as weight 1 (PageRank on
    the simple graph); pass ``n_links`` from :func:`link_graph` for
    the endorsement-weighted variant.

    Execution shape: per round one equi-join of the edge frame with
    the current rank frame on src (shuffle keyed src), one groupBy
    dst (shuffle keyed dst), and two one-row scalar attaches (N,
    dangling mass) that ride as broadcast nested-loop joins. Nothing
    ever collects; the rank frame stays (domain, pr) — at web scale
    ~1e8 rows of two short columns.

    ``checkpoint_every`` (default 1) truncates the rank frame's
    lineage with a lazy ``materialize`` barrier every that-many
    iterations (``spark.featurestore.materialize=reliable`` covers it
    like every other barrier). This is NOT an optimization knob: each
    iteration reads the previous rank frame twice (contribution join +
    dangling mass), and because both sides also descend from
    ``edges``, analysis clones the shared subtree per self-join —
    without truncation the logical plan (and analyzer time/driver
    heap) grows EXPONENTIALLY in the iteration count, the classic
    iterative-algorithm failure mode on Spark. ``None`` disables
    truncation (keeps the whole dataflow one inspectable pure plan —
    fine for 1-2 iterations in plan tests; do not run deep loops with
    it).

    ``seed_ranks`` (a previous output's (domain, pr) frame) resumes
    iteration instead of restarting from uniform — the against-index
    convention applied to ranking: after a recrawl extends the edge
    frame, seed with last round's ranks and a handful of iterations
    re-converges instead of paying the full power iteration again.
    Domains new to the graph seed at 1/N; the seeded vector is then
    renormalized to total mass 1 (one broadcast scalar attach), so
    the per-iteration Σ pr == 1 invariant holds from the first step.
    Seeding with an output over the SAME graph continues the same
    trajectory (up to float renormalization noise), so k then m
    iterations ≈ k+m in one call."""
    if not 0.0 <= damping < 1.0:
        raise ValueError(f"damping must be in [0, 1): {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1: {iterations}")
    if checkpoint_every is not None and checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1 or None: {checkpoint_every}"
        )
    from featurestore_spark.operators.materialize import materialize

    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        w.alias("_w"),
    ).where(F.col("_src").isNotNull() & F.col("_dst").isNotNull())
    if checkpoint_every is not None:
        # materialize the edge frame once, BEFORE deriving nodes /
        # outw / n_row: every iteration's contribution join re-reads
        # it, and without truncation the whole upstream dataflow
        # (href extraction, PSL chain, edge groupBy) would re-execute
        # per iteration — and the setup frames below would each
        # re-execute it again per read (the pre-r14 placement derived
        # them from the PRE-checkpoint plan, so building `base` ran
        # the upstream three times before the first iteration).
        e = materialize(e, eager=False)
    nodes = (
        # one pass over the edge frame: explode(array(src, dst))
        # instead of a self-union, whose branches each re-read `e`
        e.select(
            F.explode(F.array(F.col("_src"), F.col("_dst"))).alias("domain")
        )
        .distinct()
    )
    outw = (
        e.groupBy("_src")
        .agg(F.sum("_w").alias("_outw"))
        .withColumnRenamed("_src", "domain")
    )
    n_row = F.broadcast(
        nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    )
    base = (
        nodes.join(outw, "domain", "left")
        .select("domain", F.coalesce("_outw", F.lit(0.0)).alias("_outw"))
        .crossJoin(n_row)
    )
    if checkpoint_every is not None:
        base = materialize(base, eager=False)
    if seed_ranks is None:
        ranks = base.withColumn("pr", F.lit(1.0) / F.col("_n"))
    else:
        seeded = base.join(
            seed_ranks.select("domain", F.col("pr").alias("_seed_pr")),
            "domain",
            "left",
        ).withColumn(
            "_pr0", F.coalesce("_seed_pr", F.lit(1.0) / F.col("_n"))
        )
        tot = F.broadcast(seeded.agg(F.sum("_pr0").alias("_tot")))
        ranks = seeded.crossJoin(tot).select(
            "domain",
            "_outw",
            "_n",
            (F.col("_pr0") / F.col("_tot")).alias("pr"),
        )
    for it in range(iterations):
        contrib = (
            e.join(
                # dangling rows can never match an out-edge; dropping
                # them first also keeps the per-weight division
                # ANSI-safe (no 0 divisor ever evaluated)
                ranks.where(F.col("_outw") != 0.0).select(
                    F.col("domain").alias("_src"),
                    (F.col("pr") / F.col("_outw")).alias("_ppw"),
                ),
                "_src",
            )
            .groupBy("_dst")
            .agg(F.sum(F.col("_ppw") * F.col("_w")).alias("_c"))
            .withColumnRenamed("_dst", "domain")
        )
        dang = F.broadcast(
            ranks.where(F.col("_outw") == 0.0).agg(
                F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang")
            )
        )
        ranks = (
            base.join(contrib, "domain", "left")
            .crossJoin(dang)
            .select(
                "domain",
                "_outw",
                "_n",
                (
                    F.lit(1.0 - damping) / F.col("_n")
                    + F.lit(damping)
                    * (
                        F.coalesce("_c", F.lit(0.0))
                        + F.col("_dang") / F.col("_n")
                    )
                ).alias("pr"),
            )
        )
        if checkpoint_every is not None and (it + 1) % checkpoint_every == 0:
            ranks = materialize(ranks, eager=False)
    return ranks.select("domain", "pr")
