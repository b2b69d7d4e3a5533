"""URL parsing for web-page tables, as portable SQL templates.

A crawl-scale pipeline groups, samples, rate-limits and reputations by
registrable domain; these helpers turn a raw ``url`` string column into
``host`` / ``registrable domain`` with ONE regex each — identical text
in Spark (Java regex) and DuckDB (RE2): the patterns use only character
classes, alternation and groups, which the two engines interpret
identically.  No Python on the hot path — both compile into
whole-stage codegen.

Scope (documented, validated by tests): ``scheme://[user@]host[:port]
/path[?query][#frag]`` with lowercase ASCII hosts.  IPv6 bracket hosts
and internationalized domains are out of scope (a crawl pipeline
normalizes those upstream); ``:port`` and ``user@`` are stripped.

The registrable-domain heuristic keeps THREE labels when the host ends
in a second-level public suffix from a small built-in set (co.uk etc.),
else TWO.  The real public-suffix list is data, not code — at scale it
is a broadcast join against the PSL table; the regex keeps the operator
self-contained here and the template accepts extra suffixes.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

# Second-level public suffixes recognized by the built-in heuristic.
SECOND_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "co.in", "co.kr", "com.cn", "com.mx",
)

_AUTHORITY_RE = "^[a-z][a-z0-9+.-]*://([^/?#]+)"
_STRIP_USER_PORT_RE = "^(?:[^@]*@)?([^:]+)"


def url_host_sql(url: str) -> str:
    """Host of ``url``: authority with userinfo and port stripped.

    Same expression text runs in Spark and DuckDB (both expose
    ``regexp_extract(str, pattern, group)``).
    """
    auth = f"regexp_extract({url}, '{_AUTHORITY_RE}', 1)"
    return f"regexp_extract({auth}, '{_STRIP_USER_PORT_RE}', 1)"


def registrable_domain_sql(host: str, extra_suffixes: tuple = ()) -> str:
    """Registrable domain of a ``host`` expression.

    One anchored regex: prefer ``label.<second-level-suffix>`` (three
    labels), else the last two labels.  Alternation order makes the
    three-label branch win when both match.
    """
    sl = "|".join(
        s.replace(".", "[.]") for s in SECOND_LEVEL_SUFFIXES + tuple(extra_suffixes)
    )
    pat = f"([^.]+[.](?:{sl})|[^.]+[.][^.]+)$"
    return f"regexp_extract({host}, '{pat}', 1)"


# ---------------------------------------------------------------------------
# Public-Suffix-List registrable domain — the at-scale path.
#
# The real PSL is DATA (~9k rules from publicsuffix.org), not code.  At
# crawl scale the extraction is a BROADCAST JOIN of the page table
# against the rule table — but the naive shape (explode every host into
# all of its suffixes, join, groupBy-max) pays an explode AND a
# re-aggregation shuffle.  Rules are shallow (real list: <= 5 labels),
# so instead we do ONE broadcast hash join PER RULE DEPTH on a derived
# "last d labels" key — no explode, no shuffle, no Python; D small
# broadcast joins that AQE/codegen chew through, and the page table is
# never re-partitioned.
#
# Full PSL semantics per https://publicsuffix.org/list/ (public spec):
#   * plain rule  `co.uk`   -> hosts ending in it get ps_len = 2
#   * wildcard    `*.ck`    -> one extra label beyond the base:
#                              ps_len = depth(base) + 1
#   * exception   `!www.ck` -> overrides any wildcard/plain match;
#                              public suffix = rule minus leftmost label
#   * no match    (implicit `*` rule) -> ps_len = 1
#   * a host with <= ps_len labels IS a public suffix -> domain NULL
# Comment lines (`//`) and blanks are skipped, so a verbatim
# publicsuffix.org download parses as-is.

#: tiny built-in rule set = the regex heuristic's suffixes plus a few
#: beyond it (com.sg / co.za / wildcard+exception .ck) for tests;
#: production passes the full downloaded list via ``rules=``.
PSL_BUILTIN_RULES = (
    ("com", "net", "org", "uk")
    + SECOND_LEVEL_SUFFIXES
    + ("com.sg", "co.za", "*.ck", "!www.ck")
)


def parse_psl_rules(lines: Iterable[str]):
    """PSL text lines -> list of (join_key, join_depth, ps_len, is_exc).

    ``join_key`` is the suffix the broadcast join matches on (for a
    wildcard rule: the base, one label short of the public suffix it
    defines), ``ps_len`` the resulting public-suffix label count.
    """
    out = []
    for ln in lines:
        ln = ln.strip()
        if not ln or ln.startswith("//"):
            continue
        ln = ln.split()[0]  # publicsuffix.org allows trailing comments
        if ln.startswith("!"):
            key = ln[1:]
            d = key.count(".") + 1
            out.append((key, d, d - 1, True))
        elif ln.startswith("*."):
            base = ln[2:]
            d = base.count(".") + 1
            out.append((base, d, d + 1, False))
        else:
            d = ln.count(".") + 1
            out.append((ln, d, d, False))
    return out


def registrable_domain_psl(
    df: DataFrame,
    host: str,
    rules: Optional[Iterable[str]] = None,
    out: str = "domain",
) -> DataFrame:
    """Append ``out`` = PSL registrable domain of column ``host``.

    One broadcast hash join per rule depth on the host's last-``d``
    -labels key; plan has no shuffle and no Python (see module
    comment).  ``rules`` takes PSL-format lines (default: the built-in
    sample set).
    """
    spark = df.sparkSession
    parsed = parse_psl_rules(rules if rules is not None else PSL_BUILTIN_RULES)
    if not parsed:
        raise ValueError("empty PSL rule set")
    # one row per join key & depth: exception beats everything at its
    # key; otherwise deepest ps wins (dedup at build time keeps the
    # joins 1:1 so no row explosion)
    from collections import defaultdict

    agg: dict = defaultdict(lambda: [None, None])  # key,(d) -> [ps, exc]
    for key, d, ps, is_exc in parsed:
        slot = agg[(key, d)]
        if is_exc:
            slot[1] = ps if slot[1] is None else min(slot[1], ps)
        else:
            slot[0] = ps if slot[0] is None else max(slot[0], ps)
    depths = sorted({d for (_k, d) in agg})
    rows = [
        (k, d, ps, exc) for (k, d), (ps, exc) in sorted(agg.items())
    ]
    rules_df = spark.createDataFrame(
        rows, "psl_key string, psl_d int, psl_ps int, psl_exc int"
    )

    labels, n = f"__{out}_labs", f"__{out}_n"
    cur = df.withColumn(labels, F.split(F.col(host), "[.]")).withColumn(
        n, F.size(F.col(labels))
    )
    ps_cols, exc_cols = [], []
    for d in depths:
        key_col = F.when(
            F.col(n) >= d,
            F.array_join(F.expr(f"slice({labels}, -{d}, {d})"), "."),
        )
        r = rules_df.where(F.col("psl_d") == d).select(
            F.col("psl_key").alias(f"__k{d}"),
            F.col("psl_ps").alias(f"__ps{d}"),
            F.col("psl_exc").alias(f"__exc{d}"),
        )
        cur = cur.withColumn(f"__sfx{d}", key_col).join(
            F.broadcast(r), F.col(f"__sfx{d}") == F.col(f"__k{d}"), "left"
        ).drop(f"__k{d}", f"__sfx{d}")
        # wildcard ps_len = d+1 needs the extra label to exist on the
        # host, else the host itself is (inside) the public suffix
        ps_cols.append(
            F.when(F.col(f"__ps{d}") <= F.col(n), F.col(f"__ps{d}"))
        )
        exc_cols.append(F.col(f"__exc{d}"))
    # exception (any depth, deepest first) overrides; else longest match;
    # else the implicit '*' rule (ps_len 1)
    ps_len = F.coalesce(
        *reversed(exc_cols), F.greatest(*ps_cols, F.lit(1))
    ) if len(ps_cols) > 1 else F.coalesce(exc_cols[0], ps_cols[0], F.lit(1))
    cur = cur.withColumn(f"__{out}_pslen", ps_len)
    domain = F.when(
        F.col(n) >= F.col(f"__{out}_pslen") + 1,
        F.expr(
            f"array_join(slice({labels}, -(__{out}_pslen + 1), "
            f"__{out}_pslen + 1), '.')"
        ),
    )
    cur = cur.withColumn(out, domain)
    drop = [labels, n, f"__{out}_pslen"]
    drop += [c for d in depths for c in (f"__ps{d}", f"__exc{d}")]
    return cur.drop(*drop)


def registrable_domain_psl_duck_sql(
    host: str, rules: Optional[Iterable[str]] = None
) -> tuple:
    """DuckDB twin of :func:`registrable_domain_psl` for oracles:
    returns (rules_cte, joins, domain_expr) — ``rules_cte`` defines the
    ``psl_rules`` VALUES relation, ``joins`` the per-depth LEFT-JOIN
    chain (against a relation aliased as in ``host``), ``domain_expr``
    the registrable-domain expression.  Implemented independently with
    DuckDB list ops (1-based slicing) so the driver compare is a
    genuine cross-check of the Spark join logic.
    """
    parsed = parse_psl_rules(rules if rules is not None else PSL_BUILTIN_RULES)
    from collections import defaultdict

    agg: dict = defaultdict(lambda: [None, None])
    for key, d, ps, is_exc in parsed:
        slot = agg[(key, d)]
        if is_exc:
            slot[1] = ps if slot[1] is None else min(slot[1], ps)
        else:
            slot[0] = ps if slot[0] is None else max(slot[0], ps)
    vals = ", ".join(
        f"('{k}', {d}, {ps if ps is not None else 'NULL'}, "
        f"{exc if exc is not None else 'NULL'})"
        for (k, d), (ps, exc) in sorted(agg.items())
    )
    depths = sorted({d for (_k, d) in agg})
    ctes = (
        f"psl_rules(psl_key, psl_d, psl_ps, psl_exc) AS (VALUES {vals})"
    )
    labs = f"string_split({host}, '.')"
    n = f"len({labs})"
    joins, ps_exprs, exc_exprs = [], [], []
    for d in depths:
        sfx = f"array_to_string({labs}[greatest({n} - {d} + 1, 1):{n}], '.')"
        joins.append(
            f"LEFT JOIN psl_rules r{d} ON r{d}.psl_d = {d} "
            f"AND {n} >= {d} AND r{d}.psl_key = {sfx}"
        )
        ps_exprs.append(
            f"CASE WHEN r{d}.psl_ps <= {n} THEN r{d}.psl_ps END"
        )
        exc_exprs.append(f"r{d}.psl_exc")
    pslen = (
        "COALESCE(" + ", ".join(reversed(exc_exprs)) + ", "
        + "GREATEST(" + ", ".join(
            f"COALESCE({p}, 1)" for p in ps_exprs
        ) + "))"
    )
    domain = (
        f"CASE WHEN {n} >= {pslen} + 1 THEN "
        f"array_to_string({labs}[{n} - {pslen}:{n}], '.') END"
    )
    return ctes, " ".join(joins), domain


def url_normalize_sql(url: str) -> str:
    """RFC 3986 syntax-based normalization of an absolute http(s) URL
    as ONE portable SQL text (regexp_extract/lower/CASE/concat only —
    codegen in Spark, vectorized in DuckDB, no dialect fork):

    * scheme and host lowercased (case-insensitive by spec);
    * userinfo stripped (crawler identity never belongs in a dedup key);
    * default ports dropped (http:80 / https:443), others kept;
    * fragment dropped (never sent to the server — pure client state);
    * empty path becomes '/' (``http://a.com`` == ``http://a.com/``);
    * query kept verbatim (parameter reordering changes semantics on
      enough real sites that it is NOT safe to canonicalize).

    This is the key-side normalization a crawl pipeline applies before
    url-level dedup / frontier membership; scope matches the other web
    helpers (absolute ``scheme://`` URLs, ASCII hosts — IDN/IPv6 are
    normalized upstream).  Inputs without a scheme yield a ``'://...'``
    string rather than NULL: garbage stays visibly garbage.
    """
    scheme = f"lower(regexp_extract({url}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    auth = f"regexp_extract({url}, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)"
    hostport = f"regexp_extract({auth}, '^(?:[^@]*@)?(.*)$', 1)"
    host = f"lower(regexp_extract({hostport}, '^([^:]+)', 1))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    path = (
        f"regexp_extract({url}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1)"
    )
    query = f"regexp_extract({url}, '^[^?#]*[?]([^#]*)', 1)"
    keep_port = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' "
        f"ELSE ':' || {port} END"
    )
    return (
        f"concat({scheme}, '://', {host}, {keep_port}, "
        f"CASE WHEN {path} = '' THEN '/' ELSE {path} END, "
        f"CASE WHEN {query} = '' THEN '' ELSE '?' || {query} END)"
    )
