"""URL-parsing templates: Spark and DuckDB must return identical
values for the same expression text (the whole point of the
portable-SQL design), and match a hand-written python oracle."""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_conflate_spark.functions.web import (
    SECOND_LEVEL_SUFFIXES,
    registrable_domain_sql,
    url_host_sql,
)

URLS = [
    "https://www.example.com/a/b?q=1#frag",
    "http://sub.deep.example.co.uk/path",
    "https://example.com",
    "https://example.com/",
    "http://user@host.example.org:8080/x?y=2",
    "https://news.site.com.au/story/42",
    "ftp://files.example.net/pub",
    "https://single",  # no dot: host yes, domain '' (no 2-label match)
]


def _py_host(url):
    rest = url.split("://", 1)[1]
    auth = rest.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]
    auth = auth.split("@", 1)[-1]
    return auth.split(":", 1)[0]


def _py_domain(host):
    labels = host.split(".")
    for suf in SECOND_LEVEL_SUFFIXES:
        if host.endswith("." + suf) and len(labels) >= 3:
            return ".".join(labels[-3:])
    return ".".join(labels[-2:]) if len(labels) >= 2 else ""


@pytest.mark.parametrize("engine", ["spark", "duck"])
def test_url_parsing_matches_python_oracle(engine, spark):
    sel = (
        f"SELECT url, {url_host_sql('url')} AS host, "
        f"{registrable_domain_sql(url_host_sql('url'))} AS domain FROM urls"
    )
    if engine == "spark":
        spark.createDataFrame(
            [(u,) for u in URLS], "url string"
        ).createOrReplaceTempView("urls")
        rows = {r["url"]: r.asDict() for r in spark.sql(sel).collect()}
    else:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE urls AS SELECT * FROM (VALUES "
            + ",".join(f"('{u}')" for u in URLS)
            + ") t(url)"
        )
        rows = {
            r[0]: dict(zip(["url", "host", "domain"], r))
            for r in con.sql(sel).fetchall()
        }
    for u in URLS:
        host = _py_host(u)
        assert rows[u]["host"] == host, (engine, u)
        assert rows[u]["domain"] == _py_domain(host), (engine, u)


# --------------------------------------------------------------------------
# PSL broadcast-join path (round-4 verdict #6)

PSL_HOSTS = [
    "www.example.com",       # plain depth-1 rule
    "a.example.com",
    "example.com",
    "sub.deep.example.co.uk",  # second-level suffix
    "news.site.com.au",
    "foo.uk",                # 'uk' itself is a rule
    "foo.com.sg",            # suffix OUTSIDE the regex's built-in 15
    "a.foo.com.sg",
    "x.co.za",               # ditto
    "a.b.ck",                # wildcard *.ck
    "b.ck",                  # is a public suffix itself -> NULL
    "ck",                    # bare TLD -> NULL
    "www.ck",                # exception !www.ck -> registrable
    "sub.www.ck",            # under the exception
    "single",                # no dot, no rule -> NULL
    "odd.zz",                # no matching rule -> implicit * -> 2 labels
]


def _py_psl_domain(host, rules):
    """Independent spec-literal PSL oracle (third implementation)."""
    labels = host.split(".")
    matches = []
    for r in rules:
        if r.startswith("!"):
            key, kind = r[1:], "exc"
        elif r.startswith("*."):
            key, kind = r[2:], "wild"
        else:
            key, kind = r, "plain"
        kl = key.split(".")
        if len(labels) >= len(kl) and labels[-len(kl):] == kl:
            if kind == "exc":
                matches.append(("exc", len(kl) - 1))
            elif kind == "wild":
                if len(labels) >= len(kl) + 1:
                    matches.append(("wild", len(kl) + 1))
            else:
                matches.append(("plain", len(kl)))
    exc = [n for k, n in matches if k == "exc"]
    if exc:
        ps = exc[0]
    elif matches:
        ps = max(n for _k, n in matches)
    else:
        ps = 1
    if len(labels) < ps + 1:
        return None
    return ".".join(labels[-(ps + 1):])


def test_psl_join_matches_spec_oracle(spark):
    from osm_conflate_spark.functions import web as w

    df = spark.createDataFrame([(h,) for h in PSL_HOSTS], "host string")
    out = {
        r["host"]: r["domain"]
        for r in w.registrable_domain_psl(df, "host").collect()
    }
    for h in PSL_HOSTS:
        assert out[h] == _py_psl_domain(h, w.PSL_BUILTIN_RULES), h


def test_psl_agrees_with_regex_inside_its_scope(spark):
    """On hosts whose suffix is covered by the regex heuristic's
    assumptions the two paths agree; outside it (com.sg / co.za / .ck)
    the PSL path corrects the heuristic — both facts asserted."""
    from osm_conflate_spark.functions import web as w

    df = spark.createDataFrame([(h,) for h in PSL_HOSTS], "host string")
    both = w.registrable_domain_psl(df, "host").withColumn(
        "regex_domain", F.expr(w.registrable_domain_sql("host")),
    )
    rows = {r["host"]: r for r in both.collect()}
    in_scope = [
        "www.example.com", "a.example.com", "example.com",
        "sub.deep.example.co.uk", "news.site.com.au", "odd.zz",
    ]
    for h in in_scope:
        assert rows[h]["domain"] == rows[h]["regex_domain"], h
    # heuristic truncates these to 2 labels / misses wildcard+exception
    assert rows["foo.com.sg"]["regex_domain"] == "com.sg"
    assert rows["foo.com.sg"]["domain"] == "foo.com.sg"
    assert rows["a.b.ck"]["regex_domain"] == "b.ck"
    assert rows["a.b.ck"]["domain"] == "a.b.ck"
    assert rows["b.ck"]["regex_domain"] == "b.ck"
    assert rows["b.ck"]["domain"] is None  # b.ck IS a public suffix


def test_psl_duck_twin_matches_spark(spark):
    from osm_conflate_spark.functions import web as w

    rules_cte, joins, domain = w.registrable_domain_psl_duck_sql("h.host")
    vals = ",".join(f"('{h}')" for h in PSL_HOSTS)
    sql = (
        f"WITH {rules_cte}, h(host) AS (VALUES {vals}) "
        f"SELECT h.host, {domain} AS domain FROM h {joins}"
    )
    con = duckdb.connect()
    duck = {r[0]: r[1] for r in con.sql(sql).fetchall()}
    df = spark.createDataFrame([(h,) for h in PSL_HOSTS], "host string")
    sp = {
        r["host"]: r["domain"]
        for r in w.registrable_domain_psl(df, "host").collect()
    }
    assert duck == sp


def test_psl_plan_is_broadcast_no_shuffle(spark):
    from osm_conflate_spark.functions import web as w

    df = spark.range(0, 1000).selectExpr(
        "concat('h', id % 50, '.example.', "
        "CASE WHEN id % 3 = 0 THEN 'com.sg' ELSE 'com' END) AS host"
    )
    plan = w.registrable_domain_psl(df, "host")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan
