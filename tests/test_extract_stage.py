"""The extract stage's one shape: the ``include`` surface set from the job
CLI down to the UDF, and the UDF's adaptive re-chunk."""

import pandas as pd
import pytest

from docling_plus_spark.operators import extract
from docling_plus_spark.operators.extract import SURFACES, _extract_fn
from docling_plus_spark.plans import build_session, extract_pipeline

# surface name -> the sink column it fills
COLUMN = {"json": "doc_json", "doctags": "doctags", "html": "html_out"}

OK_HTML = (
    b"<html><body><h1>Title</h1><p>Alpha <b>beta</b>.</p>"
    b"<ul><li>one</li><li>two</li></ul></body></html>"
)
PAGES = [
    ("https://a.test/ok.html", OK_HTML),
    ("https://a.test/second", b"<html><body><p>Second page.</p></body></html>"),
    ("https://a.test/empty", b""),  # gate-rejected: invalid_input
]


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.mark.parametrize("include", [(), ("json",), ("doctags",), ("doctags", "html")])
def test_include_fills_exactly_the_named_surfaces(spark, include):
    df = spark.createDataFrame(PAGES, "url string, html binary")
    out = {r.url: r for r in extract_pipeline(df, include=include).collect()}
    assert len(out) == len(PAGES)
    rej = out["https://a.test/empty"]
    assert (rej.status, rej.failure_class) == ("failure", "invalid_input")
    for url in ("https://a.test/ok.html", "https://a.test/second"):
        row = out[url]
        assert row.status == "success" and row.text
        for surface, col in COLUMN.items():
            assert (row[col] is not None) == (surface in include), (url, col)
    assert all(rej[col] is None for col in COLUMN.values())


def test_unknown_surface_fails_fast(spark):
    df = spark.createDataFrame(PAGES, "url string, html binary")
    with pytest.raises(ValueError, match="doctags"):
        extract_pipeline(df, include=("jsn",))


def test_job_cli_rejects_unknown_surface(capsys):
    from docling_plus_spark.job import parse_args

    base = ["--input", "in", "--output", "out"]
    assert parse_args(base + ["--include", "json,html"]).include == ("json", "html")
    assert parse_args(base).include == ()
    with pytest.raises(SystemExit) as exc:
        parse_args(base + ["--include", "json,jsn"])
    assert exc.value.code == 2
    assert str(SURFACES) in capsys.readouterr().err


def _batch() -> pd.DataFrame:
    """One prepared Arrow batch as the UDF receives it: converted rows of
    several sizes and formats with two gate rejects among them."""
    rows = [
        ("https://b.test/p0.html", OK_HTML, "html", True, None),
        ("https://b.test/img.png", b"\x89PNG\r\n\x1a\n", "image", False, "needs_ocr"),
        ("https://b.test/p1", b"<p>" + b"word " * 400 + b"</p>", "html", True, None),
        ("https://b.test/t.csv", b"a,b\n1,2\n3,4\n", "csv", True, None),
        ("https://b.test/empty", b"", "html", False, "invalid_input"),
        ("https://b.test/p2", b"<h2>Head</h2><p>tail</p>", "html", True, None),
    ]
    return pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "html": [r[1] for r in rows],
            "doc_hash": [f"h{i}" for i in range(len(rows))],
            "format": [r[2] for r in rows],
            "nbytes": [len(r[1]) for r in rows],
            "_convert": [r[3] for r in rows],
            "_reject_reason": [r[4] for r in rows],
        }
    )


def _run(monkeypatch, budget: int) -> list:
    monkeypatch.setattr(extract, "MAX_BATCH_BYTES", budget)
    return list(_extract_fn(("json",))(iter([_batch()])))


def test_rechunk_splits_batch_without_changing_rows(monkeypatch):
    whole = _run(monkeypatch, 8 << 20)
    split = _run(monkeypatch, 1)
    converted = int(_batch()["_convert"].sum())
    # one reject frame, then one frame per chunk of converted rows
    assert len(whole) == 2
    assert len(split) == 1 + converted
    assert [len(f) for f in split[1:]] == [1] * converted

    def rows(frames):
        df = pd.concat(frames, ignore_index=True).drop(columns="extract_ms")
        return df.sort_values("url").reset_index(drop=True)

    a, b = rows(whole), rows(split)
    pd.testing.assert_frame_equal(a, b)
    assert list(a.columns) == [
        f.name for f in extract.EXTRACT_SCHEMA.fields if f.name != "extract_ms"
    ] + list(extract.PASSTHROUGH)
    assert set(a.status) == {"success", "failure"}
    assert (a.status == "success").sum() == converted
    for frames in (whole, split):
        rej = frames[0]
        assert list(rej.url) == ["https://b.test/img.png", "https://b.test/empty"]
        assert list(rej.failure_class) == ["needs_ocr", "invalid_input"]
        assert (rej.extract_ms == 0.0).all()
        assert rej.error.isna().all()
