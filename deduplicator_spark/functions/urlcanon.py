"""P1 — aggressive URL canonicalization as pure Column algebra.

The reference canonicalizes on BOTH paths with OpenWayback's
AggressiveUrlCanonicalizer: write side IndexBuilder.java:57,194-199, read
side DeDuplicator.java:120,158 (dep deduplicator-commons/pom.xml:36-40).
Re-expressed as a deterministic regexp_replace chain (no Python, no UDF),
implementing the canonicalizer's documented core rules:

  * lowercase the whole URL
  * strip the fragment
  * strip userinfo (user:pass@)
  * strip session-id path parameters (;jsessionid=...)
  * strip session-id query parameters (jsessionid, phpsessid, sid,
    sessionid, cfid, cftoken, aspsessionid*)
  * strip a leading www / www<digits> host label
  * strip default ports (:80 for http, :443 for https)
  * strip trailing slashes and a dangling '?'
  * re-order query args alphabetically (split '&' / sort / re-join — both
    engines sort strings by binary collation, so order parity holds)
  * normalize decimal and 0x-hex IPv4 hosts to dotted-quad (conv/cast +
    shift-and-mask byte math; values past 2^32 are left untouched)

ONE rule table drives both engines for the regex rules: `canonicalize_url`
builds the Spark Column chain ($1 backrefs), `canonicalize_sql` renders the
identical chain as nested DuckDB regexp_replace calls (\\1 backrefs, 'g'
flag) so the driver's oracle and the Spark plan can never drift. The two
structured rules (query sort, host normalization) need list/arithmetic ops
the regex table can't express; they are rendered per dialect from shared
regex constants, with parity enforced by the canonicalize_urls oracle and
the idempotence property test. Each structured rule reads its input
several times, so it binds the input once with `let`: the expression stays
linear in size when the canonicalizer is composed with itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .let import let

_SESSION_PARAMS = r"(?:jsessionid|phpsessid|aspsessionid[a-z0-9]*|sessionid|sid|cfid|cftoken)"

# (pattern, replacement-template) — template uses {1},{2} for group refs;
# applied in order to the lowercased URL. The session-query rule appears
# twice: one global pass cannot re-match at the boundary it just rewrote
# (…?sid=1&sid=2&… needs a second pass).
_RULES: tuple[tuple[str, str], ...] = (
    (r"#.*$", ""),                                       # fragment
    (r"^(https?://)[^/@]*@", "{g1}"),                     # userinfo
    (r";" + _SESSION_PARAMS + r"=[^?#&]*", ""),          # path session param
    (r"([?&])" + _SESSION_PARAMS + r"=[^&]*&", "{g1}"),   # query session (mid)
    (r"([?&])" + _SESSION_PARAMS + r"=[^&]*&", "{g1}"),   # second pass (adjacent)
    (r"[?&]" + _SESSION_PARAMS + r"=[^&]*$", ""),        # query session (tail)
    (r"^(https?://)www\d*\.", "{g1}"),                    # www host label
    (r"^(http://[^/:]+):80(/|\?|$)", "{g1}{g2}"),          # default http port
    (r"^(https://[^/:]+):443(/|\?|$)", "{g1}{g2}"),        # default https port
    (r"\?$", ""),                                        # dangling '?'
    (r"([^/])/+$", "{g1}"),                               # trailing slashes
)


# structured-rule regex constants, shared verbatim by both renderers
_QUERY_PAT = r"\?(.*)$"                  # query string (fragment pre-stripped)
_PREQ_PAT = r"^[^?]*"                    # everything before the first '?'
_HOST_PAT = r"^https?://([^/:?]+)"       # authority host (userinfo pre-stripped)
_HOST_SUB_PAT = r"^(https?://)[^/:?]+"   # host replacement site
_DEC_HOST = r"^[0-9]{1,10}$"             # decimal IPv4 candidate (<= 10 digits)
_HEX_HOST = r"^0x[0-9a-f]{1,8}$"         # hex IPv4 candidate (<= 8 hex digits)
_IP_MAX = 4294967296                     # 2^32


def _sort_query(u: Column) -> Column:
    """Alphabetical query-arg re-ordering (AggressiveUrlCanonicalizer's
    query-sort rule): split on '&', binary-sort, re-join."""
    def sort(u: Column) -> Column:
        q = F.regexp_extract(u, _QUERY_PAT, 1)
        base = F.regexp_extract(u, _PREQ_PAT, 0)
        sorted_q = F.array_join(F.array_sort(F.split(q, "&")), "&")
        return F.when(q == "", u).otherwise(F.concat(base, F.lit("?"), sorted_q))
    return let(u, sort)


def _normalize_host(u: Column) -> Column:
    """Decimal / 0x-hex IPv4 host -> dotted quad (http://2130706433/ and
    http://0x7f000001/ both -> http://127.0.0.1/)."""
    def to_int(host: Column) -> Column:
        return (
            F.when(host.rlike(_DEC_HOST), host.try_cast("bigint"))
            .when(host.rlike(_HEX_HOST),
                  F.conv(F.substring(host, 3, 8), 16, 10).try_cast("bigint"))
        )

    def normalize(u: Column, n: Column) -> Column:
        octet = lambda k: (F.shiftright(n, k).bitwiseAND(F.lit(255))).cast("string")
        dotted = F.concat_ws(".", octet(24), octet(16), octet(8), octet(0))
        fixed = F.regexp_replace(u, _HOST_SUB_PAT, F.concat(F.lit("$1"), dotted))
        return F.when(n.isNotNull() & (n < _IP_MAX), fixed).otherwise(u)

    return let(u, lambda u: let(
        F.regexp_extract(u, _HOST_PAT, 1),
        lambda host: let(to_int(host), lambda n: normalize(u, n))))


def canonicalize_url(url: Column) -> Column:
    """Spark Column chain (P1). Injectable wherever a canonicalizer is
    taken as a parameter (U5 — the reference hardcodes its canonicalizer
    with a TODO to make it pluggable, DeDuplicator.java:119-120)."""
    out = F.lower(url)
    for pat, repl in _RULES:
        out = F.regexp_replace(out, pat, repl.format(g1="$1", g2="$2"))
    return _normalize_host(_sort_query(out))


def _sort_query_sql(e: str) -> str:
    return (
        f"CASE WHEN regexp_extract({e}, '{_QUERY_PAT}', 1) = '' THEN {e} "
        f"ELSE regexp_extract({e}, '{_PREQ_PAT}') || '?' || "
        f"array_to_string(list_sort(string_split("
        f"regexp_extract({e}, '{_QUERY_PAT}', 1), '&')), '&') END"
    )


def _normalize_host_sql(e: str) -> str:
    host = f"regexp_extract({e}, '{_HOST_PAT}', 1)"
    n = (
        f"CASE WHEN regexp_matches({host}, '{_DEC_HOST}') "
        f"THEN TRY_CAST({host} AS BIGINT) "
        f"WHEN regexp_matches({host}, '{_HEX_HOST}') "
        f"THEN TRY_CAST({host} AS BIGINT) END"  # DuckDB casts 0x-prefix as hex
    )
    octet = lambda k: f"CAST((({n}) >> {k}) & 255 AS VARCHAR)"
    dotted = f"{octet(24)} || '.' || {octet(16)} || '.' || {octet(8)} || '.' || {octet(0)}"
    fixed = f"regexp_replace({e}, '{_HOST_SUB_PAT}', '\\1' || {dotted})"
    return (
        f"CASE WHEN ({n}) IS NOT NULL AND ({n}) < {_IP_MAX} "
        f"THEN {fixed} ELSE {e} END"
    )


def canonicalize_sql(expr: str) -> str:
    """The identical chain as a DuckDB SQL expression over ``expr``."""
    out = f"lower({expr})"
    for pat, repl in _RULES:
        sql_repl = repl.format(g1=r"\1", g2=r"\2")
        pat_sql = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{pat_sql}', '{sql_repl}', 'g')"
    return _normalize_host_sql(_sort_query_sql(f"({out})"))
