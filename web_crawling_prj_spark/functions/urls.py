"""URL canonicalization (RFC 3986 normalization) + host extraction.

The reference keys its seen-set on ad-hoc canonical strings
(``services/wayfair_service.py:166-194`` builds ``"{sku}_{opt1}_{opt2}"``;
``utils/params_decoder.py:4-14`` parses query strings). Our engine keys on a
proper RFC 3986-canonical URL instead:

- scheme + host lowercased, trailing host dot stripped;
- default ports dropped (http:80, https:443);
- path dot-segments resolved (RFC 3986 §5.2.4), empty path → "/";
- percent-encodings uppercased, unreserved characters decoded (§6.2.2.2);
- query pairs sorted by (key, value), empty-valued "a=" kept, bare "a" kept;
- fragment removed.

Two implementations:
1. :func:`canonicalize_url` — pure-Python reference (unit-test authority);
2. :func:`canonicalize_url_udf` — Arrow-vectorized pandas UDF of (1) for the
   data plane (no row-at-a-time Spark UDFs anywhere).

Host extraction and simple normalizations are native Column expressions so they
stay inside whole-stage codegen.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_UNRESERVED = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _normalize_percent(s: str) -> str:
    """Uppercase percent triplets; decode ones that encode unreserved chars."""

    def repl(m: re.Match[str]) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # Preserve leading slash; collapse "." / ".." artifacts at the edges.
    if path.startswith("/") and (not out or out[0] != ""):
        out.insert(0, "")
    if path.endswith(("/.", "/..", "/")) and (not out or out[-1] != ""):
        out.append("")
    return "/".join(out)


def canonicalize_url(url: str | None) -> str | None:
    """Pure-Python RFC 3986 canonicalizer (the byte-level authority)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return ""
    try:
        parts = urlsplit(url)
    except ValueError:
        return url  # unparseable → identity (kept, hashed as-is)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"

    # percent-normalize BEFORE dot-segment removal: '%2E%2E' decodes to '..'
    # and must be resolved, or canonicalization wouldn't be idempotent
    path = _remove_dot_segments(_normalize_percent(parts.path))
    if scheme and not path:
        path = "/"

    query = ""
    if parts.query:
        pairs = [p for p in parts.query.split("&") if p]
        norm = []
        for p in pairs:
            if "=" in p:
                k, _, v = p.partition("=")
                norm.append((_normalize_percent(k), _normalize_percent(v), True))
            else:
                norm.append((_normalize_percent(p), "", False))
        norm.sort(key=lambda t: (t[0], t[1]))
        query = "&".join(f"{k}={v}" if has_eq else k for k, v, has_eq in norm)

    out = f"{scheme}://{netloc}" if scheme else netloc
    out += path
    if query:
        out += "?" + query
    return out


@F.pandas_udf(StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    """Arrow-vectorized canonicalizer for the data plane."""
    return urls.map(canonicalize_url, na_action="ignore")


#: conservative already-canonical shape: lowercase scheme + bare lowercase
#: reg-name host (no userinfo/port/trailing dot/IPv6), mandatory path, no
#: percent-escapes anywhere, non-empty query if '?' present, no fragment,
#: no whitespace. Anything outside this shape routes to the Python authority.
_CANON_FAST_RE = (
    r"^[a-z][a-z0-9+.\-]*://[a-z0-9\-]+(\.[a-z0-9\-]+)*/[^?#%\s]*(\?[^#%\s]+)?$"
)


def is_canonical_fast(url: Column | str) -> Column:
    """TRUE only when ``canonicalize_url(url) == url`` is PROVABLE natively —
    the codegen fast-path predicate that routes the overwhelmingly-common
    already-canonical URL around the Arrow canonicalizer UDF (the only
    Python in the ingest hot path). Never true for a URL the Python
    canonicalizer would change; false negatives are merely slow, so every
    check is conservative.

    Checks: the shape regex above; no dot-segments in the path; and — the
    subtle one — the query already sorted the way the canonicalizer sorts:
    by (key, value) TUPLE, which differs from sorting the raw ``k=v`` string
    whenever a key contains a character ordered before ``=`` (digits,
    ``-``…), so the check sorts an array of (k, v, has_eq) structs and
    rebuilds. A query sorted by (k, v, has_eq) stays fixed under the
    canonicalizer's STABLE (k, v) sort, so rebuilt == query ⟹ identity."""
    u = F.col(url) if isinstance(url, str) else url
    shape = u.rlike(_CANON_FAST_RE)
    path = F.regexp_extract(u, r"^[a-z0-9+.\-]+://[^/]+([^?#]*)", 1)
    no_dots = ~path.rlike(r"(^|/)\.{1,2}(/|$)")
    query = F.regexp_extract(u, r"\?([^#]*)$", 1)
    no_stray_amp = ~query.rlike(r"(^&)|(&&)|(&$)")
    kv = F.transform(
        F.split(query, "&"),
        lambda p: F.struct(
            F.substring_index(p, "=", 1).alias("k"),
            F.when(
                p.contains("="), p.substr(F.instr(p, "=") + 1, F.length(p))
            ).otherwise(F.lit("")).alias("v"),
            p.contains("=").alias("has_eq"),
        ),
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(kv),
            lambda x: F.when(
                x["has_eq"], F.concat(x["k"], F.lit("="), x["v"])
            ).otherwise(x["k"]),
        ),
        "&",
    )
    query_sorted = (query == "") | (no_stray_amp & (rebuilt == query))
    return shape & no_dots & query_sorted


def canonicalize_urls_hybrid(
    df: "DataFrame", url_col: str, out_col: str = "url_canon"
) -> "DataFrame":
    """Hybrid canonicalization: provably-canonical rows pass through natively,
    the rest go to the Arrow UDF — then union. NOTE the routing must be a
    filtered UNION, not ``when(fast, url).otherwise(udf(url))``: Spark pulls
    Python UDFs out of conditional expressions into an ArrowEvalPython node
    evaluated for EVERY row, so the CASE form saves nothing. Same routing
    shape as the bloom/cuckoo filter tiers; equality with the pure-UDF path
    is property-tested (fast-path is conservative, never divergent)."""
    flagged = df.withColumn("_fast", is_canonical_fast(url_col))
    fast = flagged.where(F.col("_fast")).withColumn(out_col, F.col(url_col))
    slow = flagged.where(~F.coalesce(F.col("_fast"), F.lit(False))).withColumn(
        out_col, canonicalize_url_udf(url_col)
    )
    return fast.unionByName(slow).drop("_fast")


#: advertising/analytics click-identifier params (public, vendor-documented):
#: Google Analytics utm_*, Google Ads gclid, Facebook fbclid, Microsoft
#: msclkid, Mailchimp mc_cid/mc_eid, Instagram igshid, Yandex yclid,
#: HubSpot _hsenc/_hsmi. Stripping them is standard crawl canonicalization —
#: they mint unbounded aliases of one page.
_TRACKING_KEY_RE = r"^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|yclid|_hsenc|_hsmi)$"


def strip_tracking_params(url: Column | str) -> Column:
    """Remove tracking query params (case-insensitive key match) — fully
    native; keeps every other param in original order, drops the ``?`` when
    nothing survives, preserves any fragment. Apply BEFORE canonicalization
    so the sorted-query canon keys on the cleaned param set."""
    u = F.col(url) if isinstance(url, str) else url
    base = F.regexp_extract(u, r"^([^?#]*)", 1)
    # Anchor the query BEFORE any '#': a '?' inside the fragment (SPA hash
    # routes like /app#/search?q=x) is fragment text, not a query.
    query = F.regexp_extract(u, r"^[^#]*\?([^#]*)", 1)
    frag = F.regexp_extract(u, r"(#.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit(""))
        & ~F.lower(F.substring_index(p, "=", 1)).rlike(_TRACKING_KEY_RE),
    )
    rebuilt = F.concat(
        base,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
            F.lit("")
        ),
        frag,
    )
    return F.when(query == "", u).otherwise(rebuilt)


def host_of(url: Column | str) -> Column:
    """Native host extraction (stays in codegen): lowercased authority host."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.parse_url(c, F.lit("HOST")))


def url_depth(url_canon: Column | str) -> Column:
    """Path depth of a canonical URL (segments in path)."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    path = F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit("/"))
    return F.size(F.filter(F.split(path, "/"), lambda s: s != F.lit("")))


#: common multi-label public suffixes (static subset of the public suffix
#: list — the full PSL is a fetched artifact; this embedded core covers the
#: high-traffic ccTLD families and is the standard fallback when the PSL is
#: unavailable). Registrable domain = one label more than the matched suffix.
MULTI_LABEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.nz", "net.nz", "org.nz",
    "co.za", "org.za", "web.za",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.tw", "com.sg", "com.hk",
    "co.in", "net.in", "org.in", "co.kr", "or.kr", "co.id", "or.id",
]


def registrable_domain(host: Column | str) -> Column:
    """eTLD+1 (registrable domain) of a hostname, fully native.

    Real crawlers enforce politeness and dedup ownership at DOMAIN
    granularity, not hostname (``a.shop.example.co.uk`` and
    ``b.shop.example.co.uk`` are one site: ``example.co.uk``). Rule: if the
    last two labels form a known multi-label public suffix, take three
    labels, else two; hosts with fewer labels than that (bare TLDs,
    single-label hosts, IPs with no dots… ) pass through unchanged.
    """
    c = F.lower(F.col(host) if isinstance(host, str) else host)
    c = F.regexp_replace(c, r"\.$", "")  # trailing-dot FQDN form
    labels = F.split(c, r"\.")
    n = F.size(labels)
    # F.get is 0-based and NULL-safe out of range (element_at would raise
    # under ANSI for single-label hosts); concat_ws skips the NULL
    last2 = F.concat_ws(".", F.get(labels, n - 2), F.get(labels, n - 1))
    is_multi = last2.isin(MULTI_LABEL_SUFFIXES)
    take = F.when(is_multi, F.lit(3)).otherwise(F.lit(2))
    return F.when(
        n <= take, c
    ).otherwise(F.concat_ws(".", F.slice(labels, n - take + 1, take)))
