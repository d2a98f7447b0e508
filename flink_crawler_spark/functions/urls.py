"""URL scalar layer: normalization, validation, PLD extraction, hashing.

Reference behaviors reproduced (semantics, not code):
  - ``urls/SimpleUrlNormalizer.java:266-365`` — ``normalize()``: scheme
    defaulting, session-id stripping, host lowercasing, default-port
    removal, relative-path resolution, default-page removal,
    percent-decode + re-encode of path/query, fragment stripping.
  - ``urls/SimpleUrlValidator.java:24-81`` — http/https scheme check +
    parseable URL + non-empty host (+ optional invalid-suffix blacklist).
  - ``pojos/ValidUrl.java:161-170`` — PLD (paid-level domain) extraction
    via effective-TLD rules; here a compact public-suffix subset.
  - ``utils/HashUtils.java:7-10`` — 64-bit URL hash; we use Spark's
    built-in ``xxhash64`` (any stable 64-bit hash works — nothing replays
    reference hash values).

Two tiers:
  * ``*_expr``   — native Column expressions (JVM, codegen, pushdown-able,
                   and directly mirrored in ANSI SQL for the DuckDB oracle).
  * pure-Python  — full-fidelity functions wrapped as Arrow-vectorized
                   pandas UDFs for the crawl pipeline itself.
"""

from __future__ import annotations

import re
import urllib.parse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Pure-Python normalizer (full fidelity; golden-tested against the
# reference's SimpleUrlNormalizerTest cases)
# --------------------------------------------------------------------------

RESERVED_CHARS = "!*'();:@&=+$,/?#[]"
RESERVED_PATH_CHARS = "/?#"
RESERVED_QUERY_CHARS = "%&;=:?#"
UNRESERVED_CHARS = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_.~")
_HEX = set("0123456789abcdefABCDEF")

_RELATIVE_PATH_RE = re.compile(r"(/[^/]*[^/.][^/]*/\.\./|^(/\.\./)+)")
_DEFAULT_PAGE_RE = re.compile(
    r"/((?i:index|default))\.((?i:js[pf]?[afx]?|cgi|cfm|asp[x]?|[psx]?htm[l]?|php[3456]?))(\?|&|#|$)"
)
_JSESSION_RE = re.compile(r"(?:;jsessionid=.*?)(\?|&|#|$)", re.DOTALL)
_SESSION_RE = re.compile(
    r"(\?|&)(?:(?i:sid|phpsessid|sessionid|session_id|bv_sessionid|jsessionid|-session|session|session_key))=.*?(&|#|$)",
    re.DOTALL,
)
_OTHER_PARAMS_RE = re.compile(
    r"(\?|&)(?:(?i:width|format|country|height|src|user|username|uname|return_url|returnurl|sort|sort_by|sortby"
    r"|sort_direction|sort_key|order_by|orderby|sortorder|collate))=.*?(&|#|$)",
    re.DOTALL,
)
_AGGRESSIVE_PARAMS_RE = re.compile(
    r"(\?|&)(?:(?i:user|usr|user_id|userid|memberid))=.*?(&|#|$)", re.DOTALL
)

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}


def _decode_url(url: str) -> str:
    # escape bare '%' that aren't followed by two hex digits, then unquote
    out, i = [], 0
    while True:
        j = url.find("%", i)
        if j == -1:
            break
        j += 1
        if j > len(url) - 2 or url[j] not in _HEX or url[j + 1] not in _HEX:
            url = url[:j] + "25" + url[j:]
        i = j
    return urllib.parse.unquote_plus(url, errors="replace")


def _encode_component(component: str, special_chars: str) -> str:
    out = []
    for ch in component:
        cp = ord(ch)
        if cp == 0x20:
            out.append("+")
        elif cp >= 0x7F:
            out.extend("%%%02x" % b for b in ch.encode("utf-8"))
        elif cp < 0x20 or ch in special_chars:
            out.append("%%%02x" % cp)
        elif ch not in UNRESERVED_CHARS and ch not in RESERVED_CHARS:
            out.append("%%%02x" % cp)
        else:
            out.append(ch)
    return "".join(out)


def _normalize_hostname(hostname: str) -> str:
    result = hostname.lower()
    return result[:-1] if result.endswith(".") else result


def _normalize_path(path: str) -> str:
    # collapse empty segments BEFORE resolving "..": the join below drops
    # them anyway, and left in place "//../" hides its ".." from the
    # resolver until a second pass (normalize_url must be idempotent)
    path = re.sub(r"/{2,}", "/", path)
    while True:
        m = _RELATIVE_PATH_RE.search(path)
        if not m:
            break
        path = path[: m.start()] + "/" + path[m.end() :]
    m = _DEFAULT_PAGE_RE.search(path)
    if m:
        path = path[: m.start()] + "/" + m.group(3) + path[m.end() :]
    parts = [p for p in path.split("/") if p]
    new_path = "".join("/" + _encode_component(_decode_url(p), RESERVED_PATH_CHARS) for p in parts)
    if not new_path:
        return "/"
    if path.endswith("/") and not new_path.endswith("/"):
        new_path += "/"
    return new_path


def _normalize_query(query: str | None) -> str:
    if query is None:
        return ""
    out = []
    for part in query.split("&"):
        if not part:
            continue  # strip empty parts, e.g. q=1&&z=2
        kv = part.split("=")
        if len(kv) == 1:
            piece = _encode_component(_decode_url(kv[0]), RESERVED_QUERY_CHARS)
            if part.endswith("="):
                piece += "="
        else:
            piece = "=".join(_encode_component(_decode_url(p), RESERVED_QUERY_CHARS) for p in kv)
        out.append(piece)
    return "&".join(out)


def normalize_url(url: str, aggressive: bool = False) -> str:
    """Full URL normalization (SimpleUrlNormalizer.normalize semantics)."""
    result = url.strip()
    if "://" not in result:
        result = "http://" + result

    m = _JSESSION_RE.search(result)
    if m:
        result = result[: m.start()] + m.group(1) + result[m.end() :]
    m = _SESSION_RE.search(result)
    if m:
        result = result[: m.start()] + m.group(1) + m.group(2) + result[m.end() :]
    m = _OTHER_PARAMS_RE.search(result)
    if m:
        result = result[: m.start()] + m.group(1) + m.group(2) + result[m.end() :]
    if aggressive:
        m = _AGGRESSIVE_PARAMS_RE.search(result)
        if m:
            result = result[: m.start()] + m.group(1) + m.group(2) + result[m.end() :]

    try:
        parsed = urllib.parse.urlsplit(result.replace("+", "%20"))
        if not parsed.scheme or parsed.hostname is None:
            return result
    except ValueError:
        return result

    protocol = parsed.scheme.lower()
    if protocol not in ("http", "https"):
        return result

    hostname = _normalize_hostname(parsed.hostname)
    port = parsed.port if parsed.port is not None else -1
    if port == _DEFAULT_PORTS.get(protocol):
        port = -1

    path = _normalize_path(parsed.path)
    query = _normalize_query(parsed.query if parsed.query else None)
    if query:
        query = "?" + query

    host_port = hostname if port == -1 else f"{hostname}:{port}"
    return f"{protocol}://{host_port}{path}{query}"


_HTTP_RE = re.compile(r"^(http|https):")
_HOST_OK_RE = re.compile(r"^[A-Za-z0-9._~%!$&'()*+,;=-]+$")


def is_valid_url(url: str, invalid_suffixes: tuple[str, ...] = ()) -> bool:
    """SimpleUrlValidator.isValid semantics (urls/SimpleUrlValidator.java:53-80)."""
    if url is None or not _HTTP_RE.match(url):
        return False
    try:
        parsed = urllib.parse.urlsplit(url)
        host = parsed.hostname
        if not host:
            return False
        # java.net.URI rejects hosts with illegal chars (e.g. spaces)
        if not _HOST_OK_RE.match(host):
            return False
        if invalid_suffixes:
            lowered = url
            for suffix in invalid_suffixes:
                if re.search(r"\.(%s)$" % suffix, lowered):
                    return False
        return True
    except ValueError:
        return False


# Compact public-suffix subset: multi-label suffixes where the PLD is the
# last THREE labels instead of two. A full engine would load Mozilla's
# public_suffix_list.dat (what crawler-commons EffectiveTldFinder does);
# the subset keeps the logic identical and testable.
MULTI_LABEL_SUFFIXES: frozenset[str] = frozenset(
    {
        "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
        "com.au", "net.au", "org.au", "edu.au", "gov.au",
        "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
        "com.br", "net.br", "org.br", "gov.br",
        "co.nz", "net.nz", "org.nz",
        "co.in", "net.in", "org.in", "gen.in", "firm.in",
        "com.cn", "net.cn", "org.cn", "gov.cn",
        "com.mx", "com.ar", "com.tr", "com.tw", "com.sg", "com.hk",
        "co.za", "co.kr", "or.kr",
    }
)


def extract_pld(hostname: str | None) -> str | None:
    """Paid-level domain (pojos/ValidUrl.java:161-170 semantics).

    IP addresses and single-label hosts return themselves.
    """
    if hostname is None:
        return None
    host = hostname.lower().rstrip(".")
    labels = host.split(".")
    if len(labels) <= 2:
        return host
    if all(lbl.isdigit() for lbl in labels):  # IPv4
        return host
    last2 = ".".join(labels[-2:])
    if last2 in MULTI_LABEL_SUFFIXES and len(labels) >= 3:
        return ".".join(labels[-3:])
    return last2


# --------------------------------------------------------------------------
# Pandas UDF wrappers (Arrow-vectorized; the crawl pipeline's hot path
# stays JVM-side via the *_expr variants below — these exist for full
# fidelity where regex chains can't reproduce java.net.URL parsing)
# --------------------------------------------------------------------------


@F.pandas_udf(T.StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: normalize_url(u) if u is not None else None)


@F.pandas_udf(T.BooleanType())
def is_valid_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: is_valid_url(u) if u is not None else False)


@F.pandas_udf(T.StringType())
def extract_pld_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(extract_pld)


# --------------------------------------------------------------------------
# Native Column expressions (JVM-side; each has an exact ANSI-SQL mirror
# used by the DuckDB oracle in queries/)
# --------------------------------------------------------------------------


def host_expr(url: Column) -> Column:
    """Hostname from a URL — regexp so the same logic ports to any SQL engine."""
    return F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1)


def is_valid_url_expr(url: Column) -> Column:
    """Native validation: http(s) scheme + non-empty sane host."""
    host = host_expr(url)
    return (
        url.rlike("^(http|https)://")
        & (host != F.lit(""))
        & host.rlike(r"^[A-Za-z0-9._~%!$&'()*+,;=-]+$")
    )


def pld_expr(url_or_host: Column, is_host: bool = False) -> Column:
    """PLD from URL (or hostname) as a native expression.

    Last-2 labels, or last-3 when the 2-label tail is a registered
    multi-label suffix — same rule as :func:`extract_pld`.
    """
    host = url_or_host if is_host else host_expr(url_or_host)
    host = F.regexp_replace(F.lower(host), r"\.$", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, n - 1, 2))
    last3 = F.concat_ws(".", F.slice(labels, n - 2, 3))
    suffixes = F.array(*[F.lit(s) for s in sorted(MULTI_LABEL_SUFFIXES)])
    return (
        F.when(n <= 2, host)
        .when(host.rlike(r"^[0-9.]+$"), host)  # IPv4 — no PLD concept
        .when(F.array_contains(suffixes, last2) & (n >= 3), last3)
        .otherwise(last2)
    )


def url_hash_expr(url: Column) -> Column:
    """Stable 64-bit url key (HashUtils.longHash analogue) — built-in xxhash64."""
    return F.xxhash64(url)


# Ordered regexp_replace steps shared by the Spark expression AND the
# DuckDB oracle mirror (queries/urlq.py) — one source of truth, RE2- and
# Java-regex-compatible (no lookbehind, inline (?i) only).
LITE_STEPS: tuple[tuple[str, str], ...] = (
    (r"^(http://[^/?#:]+):80(/|\?|#|$)", "$1$2"),  # default port http
    (r"^(https://[^/?#:]+):443(/|\?|#|$)", "$1$2"),  # default port https
    (r"#.*$", ""),  # fragment
    (r";jsessionid=[^?&#]*", ""),  # jsession path param
    (
        r"(\?|&)(?i)(sid|phpsessid|sessionid|session_id|bv_sessionid|jsessionid|-session|session|session_key)=[^&#]*",
        "$1",
    ),  # session query params
    (r"\?&+", "?"),  # ?&& -> ?
    (r"&&+", "&"),  # && -> &
    (r"(\?|&)+$", ""),  # trailing separators
    (r"([^:])/{2,}", "$1/"),  # duplicate slashes (keeps scheme's //)
    (r"/(?i)(index|default)\.(html?|php[3-6]?|aspx?|jspx?|cgi|cfm|phtml)$", "/"),  # default page
)

PREFIX_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
BARE_AUTHORITY_RE = r"^https?://[^/?#]+$"


def normalize_url_lite_expr(url: Column) -> Column:
    """Native (codegen'd) subset of the normalizer, fully regex-expressible:

    trim → default scheme → lowercase scheme+host / strip trailing host dot
    → drop default port → strip fragment → strip jsession/session params
    → collapse duplicate slashes → strip default pages → drop trailing '?'.

    Matches the pure-Python normalizer on URLs that need no percent
    re-encoding or relative-path resolution (the common case, so the hot
    path stays JVM-side; full fidelity = normalize_url_udf).
    """
    u = F.trim(url)
    u = F.when(~u.contains("://"), F.concat(F.lit("http://"), u)).otherwise(u)
    # lowercase scheme://host[:port] prefix, strip trailing dot on host
    prefix = F.regexp_extract(u, PREFIX_RE, 1)
    rest = F.substring(u, F.length(prefix) + F.lit(1), F.lit(1_000_000))
    u = F.concat(F.regexp_replace(F.lower(prefix), r"\.(:|$)", "$1"), rest)
    for pattern, replacement in LITE_STEPS:
        u = F.regexp_replace(u, pattern, replacement)
    # ensure root path on bare authority
    u = F.when(u.rlike(BARE_AUTHORITY_RE), F.concat(u, F.lit("/"))).otherwise(u)
    return u


# Process-level memo of the three static Column trees the crawl tick's
# clean_urls stage rebuilds per call (r12, guide §1.2): the lite
# normalizer alone is ~15 chained regexp_replaces ≈ dozens of py4j
# round-trips, measured ~0.14 s of pure plan construction per tick.
# Keyed by source column name; unresolved Columns are immutable Catalyst
# trees, safe to reuse across plans and sessions in one JVM.
from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=8)
def normalize_url_lite_col(name: str = "url") -> Column:
    return normalize_url_lite_expr(F.col(name))


@lru_cache(maxsize=8)
def is_valid_url_col(name: str = "url") -> Column:
    return is_valid_url_expr(F.col(name))


@lru_cache(maxsize=8)
def pld_col(name: str = "url") -> Column:
    return pld_expr(F.col(name))
