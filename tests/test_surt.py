"""SURT key (operators/webclean.py:surt_key) — the CC CDX sort key."""

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_plus_spark.operators.webclean import surt_key, surt_key_sql
from docling_plus_spark.plans import build_session

URLS = [
    "https://www.News.Example.COM/Articles/Politics?b=2&A=1#frag",
    "HTTP://Example.org:8080/x?utm_source=t&z=9&a=0",
    "https://example.net",
    "https://sub.a.b.example.co.uk:443/Path/",
    "http://www.example.com:80/?",
    "https://news.example.com/other",
    "https://www2.example.com/a",
]
WANT = [
    "com,example,news)/articles/politics?a=1&b=2",
    "org,example:8080)/x?a=0&z=9",
    "net,example)/",
    "uk,co,example,b,a,sub)/path/",
    "com,example)/",
    "com,example,news)/other",
    "com,example)/a",
]


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _keys(spark):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(URLS)], "i long, url string"
    )
    rows = df.select("i", surt_key(F.col("url")).alias("surt")).collect()
    return [r.surt for r in sorted(rows, key=lambda r: r.i)]


def test_surt_semantics(spark):
    # www-strip, label reversal, port retention, default-port drop,
    # path/query lowercasing, bytewise param sort, tracking strip,
    # empty path -> '/'
    assert _keys(spark) == WANT


def test_domain_keys_are_contiguous(spark):
    # the property CDX indexes exist for: one host's URLs sort into one
    # contiguous key range (rows 0 and 5 share the host)
    ordered = sorted(_keys(spark))
    news = [k for k in ordered if k.startswith("com,example,news)")]
    lo, hi = ordered.index(news[0]), ordered.index(news[-1])
    assert hi - lo + 1 == len(news) == 2


def test_twin_parity(spark):
    got = _keys(spark)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) x(i, url)"
        % ", ".join(f"({i}, '{u}')" for i, u in enumerate(URLS))
    )
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {surt_key_sql('url')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got == want


def test_pure_codegen(spark):
    df = spark.createDataFrame([(1, URLS[0])], "i long, url string")
    out = df.select(surt_key(F.col("url")).alias("surt"))
    plan = out._jdf.queryExecution().explainString(
        out.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_hostile_urls_twin_parity(spark):
    """Degenerate inputs must not diverge between engines (errors are
    values here: a garbage url yields a garbage-but-identical key)."""
    hostile = [
        "",
        "https://",
        "not a url at all",
        "ftp://weird.example/ CAPS path",
        "https://trailing.dot.example.com./x",
        "https://example.com?onlyquery=1",
        "https://example.com/percent%2Fencoded?A=%2F",
        "https://xn--bcher-kva.example/unicode",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(hostile)], "i long, url string"
    )
    rows = df.select("i", surt_key(F.col("url")).alias("surt")).collect()
    got = [r.surt for r in sorted(rows, key=lambda r: r.i)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) x(i, url)"
        % ", ".join(f"({i}, '{u}')" for i, u in enumerate(hostile))
    )
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {surt_key_sql('url')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got == want
