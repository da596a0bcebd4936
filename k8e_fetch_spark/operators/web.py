"""Web-corpus curation front door: host / registered-domain extraction,
domain blocklists, per-domain document caps.

The C4 / RefinedWeb-class pipelines gate on the URL before any text
processing: drop blocklisted domains, cap how many documents any one
registered domain may contribute (a handful of template-heavy hosts
otherwise dominate a crawl), and carry the domain as a grouping key for
later mixing. Everything here is a pure column expression except the
cap, which is ONE window shuffle on the registered domain.

Scale (100 TB): host/domain extraction is scan-local regex (pushed
into the projection, whole-stage codegen); the blocklist is a literal
``isin`` for small lists (broadcast anti-join is the drop-in upgrade
for a large one — same call shape); the per-domain cap is a
``row_number`` window partitioned by domain, and Spark's
WindowGroupLimit pushes the ``<= cap`` limit below the exchange, so a
10M-document boilerplate domain ships only its first ``cap`` survivors
per map partition instead of the whole cluster of rows.

Registered-domain note: :func:`registered_domain_psl` (r10) is the
real rule — longest matching PUBLIC SUFFIX + one label, against an
embedded curated subset of the public-suffix list (publicsuffix.org);
the declared query pins it on planted ``co.uk``-class hosts where it
and the naive rule DISAGREE. :func:`registered_domain` (naive last
two labels) stays for callers that want the cheap approximation.

Reference parity: the k8e-fetch reference has no web stage; this is
part of the LLM-pipeline extension surface (SURVEY.md §2.6).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# scheme://[userinfo@]host[:port]/... -> host (no port, no path/query/
# fragment). A ``user[:pass]@`` userinfo prefix is skipped (ADVICE r14:
# it used to be captured AS the host); a bracketed IPv6 literal is
# matched whole, brackets kept (``[::1]`` stays ``[::1]``, so the
# colon-terminated reg-name branch never truncates it).
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?(\[[^\]/?#]*\]|[^/:?#]+)"


def host_of(url: Column) -> Column:
    """Lowercased hostname of a URL ('' when the URL does not parse —
    RE2-compatible pattern so the DuckDB oracle runs it verbatim).
    Userinfo prefixes are skipped; bracketed IPv6 hosts come back
    bracketed and lowercased."""
    return F.lower(F.regexp_extract(url, HOST_RE, 1))


def registered_domain(host: Column) -> Column:
    """Naive registered domain: the last two dot-labels of the host
    (the host itself when it has fewer). See module docstring for the
    public-suffix upgrade path."""
    parts = F.split(host, r"\.")
    return F.when(
        F.size(parts) >= 2, F.concat_ws(".", F.slice(parts, -2, 2))
    ).otherwise(host)


def domain_blocklist_filter(
    df: DataFrame, domain_col: str, blocked: Sequence[str]
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted. Literal
    ``isin`` — for a large blocklist, swap in a broadcast left-anti
    join on the same column (identical semantics)."""
    return df.filter(~F.col(domain_col).isin(list(blocked)))


def domain_cap(
    df: DataFrame, domain_col: str, order_col: str, cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per registered domain, by ascending
    ``order_col`` (deterministic: first-crawled wins). One window
    shuffle; the rank filter is pushed below the exchange by
    WindowGroupLimit."""
    w = Window.partitionBy(domain_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


# Curated subset of the PUBLIC SUFFIX LIST (publicsuffix.org) — the
# multi-label registry suffixes a web crawl hits most. Single-label
# TLDs need no entry (the fallback rule covers them). The full ~9k-line
# PSL (including wildcard/exception rules) drops into the same tuples;
# the expression form below stays scan-local either way, and a
# broadcast lookup join is the like-for-like swap if the list ever
# outgrows literal inlining.
PUBLIC_SUFFIXES_3: tuple[str, ...] = (
    "city.nagoya.jp",
    "city.sapporo.jp",
    "city.yokohama.jp",
    "k12.ma.us",
    "nsw.edu.au",
    "qld.edu.au",
    "vic.edu.au",
)

PUBLIC_SUFFIXES_2: tuple[str, ...] = (
    "ac.cn", "ac.id", "ac.il", "ac.in", "ac.jp", "ac.ke", "ac.kr",
    "ac.nz", "ac.th", "ac.uk", "ac.za", "ad.jp", "asn.au", "co.id",
    "co.il", "co.in", "co.jp", "co.ke", "co.kr", "co.nz", "co.th",
    "co.uk", "co.za", "com.ar", "com.au", "com.br", "com.cn",
    "com.eg", "com.hk", "com.mx", "com.my", "com.ng", "com.ph",
    "com.pl", "com.sa", "com.sg", "com.tr", "com.tw", "com.ua",
    "com.vn", "ed.jp", "edu.au", "edu.br", "edu.cn", "edu.eg",
    "edu.hk", "edu.in", "edu.mx", "edu.my", "edu.ng", "edu.ph",
    "edu.pl", "edu.sg", "edu.tr", "edu.tw", "edu.ua", "edu.vn",
    "firm.in", "gen.in", "go.id", "go.jp", "go.ke", "go.kr",
    "go.th", "gob.ar", "gob.mx", "gov.au", "gov.br", "gov.cn",
    "gov.hk", "gov.il", "gov.in", "gov.ng", "gov.ph", "gov.pl",
    "gov.sg", "gov.tr", "gov.tw", "gov.ua", "gov.uk", "gov.vn",
    "govt.nz", "gr.jp", "id.au", "in.th", "ind.in", "lg.jp",
    "ltd.uk", "me.uk", "muni.il", "ne.jp", "ne.kr", "net.ar",
    "net.au", "net.br", "net.cn", "net.hk", "net.in", "net.mx",
    "net.my", "net.ng", "net.nz", "net.ph", "net.pl", "net.sg",
    "net.tr", "net.tw", "net.ua", "net.uk", "net.vn", "net.za",
    "nhs.uk", "or.id", "or.jp", "or.ke", "or.kr", "or.th",
    "org.ar", "org.au", "org.br", "org.cn", "org.hk", "org.il",
    "org.in", "org.mx", "org.my", "org.ng", "org.nz", "org.ph",
    "org.pl", "org.sg", "org.tr", "org.tw", "org.ua", "org.uk",
    "org.vn", "org.za", "plc.uk", "police.uk", "re.kr", "res.in",
    "sch.uk", "school.nz", "waw.pl", "web.id", "web.za",
)


def registered_domain_psl(host: str) -> Column:
    """Public-suffix-aware registered domain: longest matching public
    suffix + one label. ``shop.acme.co.uk`` -> ``acme.co.uk`` (the
    naive last-two-labels rule folds it to ``co.uk``, merging every
    UK brand into one "domain" — a real crawl hits this on day one).

    Longest-match order: 3-label suffixes first, then 2-label, then
    the single-label fallback (plain last-two-labels). Pure scan-local
    column expression — the suffix set inlines as a literal ``isin``,
    no join, no shuffle; identical CASE logic is emitted for the
    DuckDB oracle by :func:`sql_registered_domain_psl`.

    ``host`` is a top-level column name (backtick-quoted whole); the
    CASE is ONE parsed ``F.expr`` string, so direct callers must be on
    the default string-literal parse (registry-routed queries pin it;
    escapedStringLiterals=true changes the meaning of the rendered
    ``split`` regex). A host that IS a bare public suffix has no
    registrable label and is returned unchanged, like a single-label
    host."""
    h = f"`{host}`"
    parts = f"split({h}, '\\\\.')"

    def last(n: int) -> str:
        return f"concat_ws('.', slice({parts}, -{n}, {n}))"

    s3 = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_3)
    s2 = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2)
    return F.expr(
        f"CASE WHEN {last(3)} IN ({s3}) THEN "
        f"(CASE WHEN size({parts}) >= 4 THEN {last(4)} ELSE {h} END) "
        f"WHEN {last(2)} IN ({s2}) THEN "
        f"(CASE WHEN size({parts}) >= 3 THEN {last(3)} ELSE {h} END) "
        f"WHEN size({parts}) >= 2 THEN {last(2)} "
        f"ELSE {h} END"
    )


def sql_registered_domain_psl(host_expr: str) -> str:
    """DuckDB rendering of :func:`registered_domain_psl` — generated
    from the SAME suffix tuples so the two engines cannot drift."""
    s3 = ",".join(f"'{s}'" for s in PUBLIC_SUFFIXES_3)
    s2 = ",".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2)
    parts = f"string_split({host_expr}, '.')"
    return (
        f"CASE WHEN array_to_string({parts}[-3:], '.') IN ({s3}) "
        f"THEN CASE WHEN len({parts}) >= 4 THEN array_to_string({parts}[-4:], '.') ELSE {host_expr} END "
        f"WHEN array_to_string({parts}[-2:], '.') IN ({s2}) "
        f"THEN CASE WHEN len({parts}) >= 3 THEN array_to_string({parts}[-3:], '.') ELSE {host_expr} END "
        f"WHEN len({parts}) >= 2 THEN array_to_string({parts}[-2:], '.') "
        f"ELSE {host_expr} END"
    )


# --------------------------------------------------------------------------
# URL canonicalization (r14): the dedup key the crawl pipelines cut on
# FIRST. CCNet/C4-class corpora dedup at the URL level before any text
# work; raw crawl URLs carry presentation noise (case, default ports,
# fragments, tracking params, param order, trailing slashes) that
# splits one logical page across many raw keys. Everything below is a
# pure column expression — scan-local, whole-stage codegen, no UDF —
# and the dedup itself is one hash aggregate on the canonical key.
# --------------------------------------------------------------------------

# scheme://[userinfo@]host[:port][path][?query][#fragment] piecewise
# extractors (the authority grammar mirrors HOST_RE: optional userinfo
# skip, bracketed-IPv6-or-reg-name host, then the :port). The port is
# anchored to end at /?# or end-of-string: RE2 has no lookahead, and
# without the anchor a failed greedy parse of 'user:123@host/' would
# backtrack into reading the numeric PASSWORD as the port.
SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
PORT_RE = (
    r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?"
    r"(?:\[[^\]/?#]*\]|[^/:?#]+):([0-9]+)(?:[/?#]|$)"
)
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
QUERY_RE = r"\?([^#]*)"

# query params that identify the CLICK, not the page
TRACKING_PARAM_RE = r"^(utm_|fbclid=|gclid=)"


def _spark_lit(text: str) -> str:
    """Render ``text`` as a Spark SQL string literal under the DEFAULT
    backslash-escaping parse (the registry pins that mode): backslashes
    doubled, single quotes doubled. Needed for the regex constants
    above, which carry ``\\[``-class escapes."""
    return "'" + text.replace("\\", "\\\\").replace("'", "''") + "'"


def canonical_url(url: str) -> Column:
    """Canonical form of a URL: lowercase scheme and host, default
    port stripped (http:80 / https:443), fragment dropped, tracking
    params (``utm_*``, ``fbclid``, ``gclid``) dropped, remaining query
    params sorted bytewise, one trailing path slash stripped (so
    ``/a/`` == ``/a`` and the bare-root ``/`` folds into the empty
    path). A ``user[:pass]@`` userinfo prefix is DROPPED from the
    canonical form (it names the session, not the page); bracketed
    IPv6 hosts keep their brackets (``[::1]:8080`` parses — ADVICE
    r14). Non-parsing URLs (no ``scheme://``) canonicalize to
    ``'://'``-prefixed empties — filter upstream if they matter.

    RE2-compatible patterns and engine-paired list functions only, so
    :func:`sql_canonical_url` renders the identical rule for DuckDB.

    ``url`` is a top-level column name (backtick-quoted whole); the
    canonicalization is ONE parsed ``F.expr`` string, so direct callers
    must be on the default string-literal parse (registry-routed
    queries pin it)."""
    u = f"`{url}`"
    scheme_s = f"lower(regexp_extract({u}, {_spark_lit(SCHEME_RE)}, 1))"
    host_s = f"lower(regexp_extract({u}, {_spark_lit(HOST_RE)}, 1))"
    port_s = f"regexp_extract({u}, {_spark_lit(PORT_RE)}, 1)"
    path_s = (
        f"regexp_replace(regexp_extract({u}, {_spark_lit(PATH_RE)}, 1), "
        "'/$', '')"
    )
    qs_s = f"regexp_extract({u}, {_spark_lit(QUERY_RE)}, 1)"
    keep_port_s = (
        f"({port_s} <> '' AND NOT (({scheme_s} = 'http' AND {port_s} = '80') "
        f"OR ({scheme_s} = 'https' AND {port_s} = '443')))"
    )
    port_part_s = (
        f"CASE WHEN {keep_port_s} THEN concat(':', {port_s}) ELSE '' END"
    )
    params_s = (
        f"array_sort(filter(split({qs_s}, '&'), "
        f"x -> x <> '' AND NOT (x RLIKE {_spark_lit(TRACKING_PARAM_RE)})))"
    )
    qs_norm_s = f"concat_ws('&', {params_s})"
    return F.expr(
        f"concat({scheme_s}, '://', {host_s}, {port_part_s}, {path_s}, "
        f"CASE WHEN {qs_norm_s} <> '' THEN concat('?', {qs_norm_s}) "
        "ELSE '' END)"
    )


def sql_canonical_url(url_expr: str) -> str:
    """DuckDB rendering of :func:`canonical_url` — generated from the
    SAME regexes so the two engines cannot drift."""
    scheme = f"lower(regexp_extract({url_expr}, '{SCHEME_RE}', 1))"
    host = f"lower(regexp_extract({url_expr}, '{HOST_RE}', 1))"
    port = f"regexp_extract({url_expr}, '{PORT_RE}', 1)"
    path = f"regexp_replace(regexp_extract({url_expr}, '{PATH_RE}', 1), '/$', '')"
    qs = f"regexp_extract({url_expr}, '{QUERY_RE}', 1)"
    keep_port = (
        f"({port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443')))"
    )
    qs_norm = (
        f"array_to_string(list_sort(list_filter(string_split({qs}, '&'), "
        f"x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}'))), '&')"
    )
    return (
        f"{scheme} || '://' || {host} || "
        f"(CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END) || {path} || "
        f"(CASE WHEN {qs_norm} <> '' THEN '?' || {qs_norm} ELSE '' END)"
    )
