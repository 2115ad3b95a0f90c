from __future__ import annotations

import gzip

from kissmetrics_to_database_spark.sources import warc


def test_parse_warc_roundtrip_plain_and_gzip(tmp_path):
    blob = warc.build_warc_response(
        "https://a.example/x", b"<html>hi</html>", "r1"
    ) + warc.build_warc_response(
        "https://b.example/y", b"<html>yo</html>", "r2"
    )
    for data in (blob, gzip.compress(blob)):
        recs = list(warc.parse_warc_bytes(data))
        assert [r["target_uri"] for r in recs] == [
            "https://a.example/x", "https://b.example/y"
        ]
        assert all(r["http_status"] == 200 for r in recs)
        assert all(r["content_type"] == "text/html" for r in recs)
        assert recs[0]["body"] == b"<html>hi</html>"
        assert recs[0]["warc_type"] == "response"


def test_parse_warc_multimember_gzip():
    # the .warc.gz convention: one gzip MEMBER per record, concatenated
    members = b"".join(
        gzip.compress(
            warc.build_warc_response(
                f"https://m.example/{i}", f"<p>{i}</p>".encode(), f"m{i}"
            )
        )
        for i in range(3)
    )
    recs = list(warc.parse_warc_bytes(members))
    assert len(recs) == 3
    assert recs[2]["body"] == b"<p>2</p>"


def test_parse_warc_malformed_http_quarantines_not_raises():
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://bad.example/\r\n"
        "Content-Length: 9\r\n\r\n"
    ).encode()
    recs = list(warc.parse_warc_bytes(head + b"NOT-HTTP!" + b"\r\n\r\n"))
    assert len(recs) == 1
    assert recs[0]["http_status"] is None
    assert recs[0]["body"] == b"NOT-HTTP!"


def test_read_warc_binaryfile_source(spark, tmp_path):
    p = tmp_path / "crawl"
    p.mkdir()
    (p / "a.warc").write_bytes(
        warc.build_warc_response("https://a.example/1", b"<b>A</b>", "a1")
    )
    (p / "b.warc.gz").write_bytes(
        gzip.compress(
            warc.build_warc_response("https://b.example/2", b"<b>B</b>", "b1")
        )
    )
    out = warc.read_warc(spark, str(p)).orderBy("target_uri").collect()
    assert [r["target_uri"] for r in out] == [
        "https://a.example/1", "https://b.example/2"
    ]
    assert bytes(out[0]["body"]) == b"<b>A</b>"
    assert out[1]["http_status"] == 200
    # the body casts back to the exact HTML string a downstream
    # operator reads, for the plain and the gzip file alike
    from pyspark.sql import functions as F

    df = warc.read_warc(spark, str(p)).select(
        "target_uri", F.col("body").cast("string").alias("html")
    )
    vals = {r["target_uri"]: r["html"] for r in df.collect()}
    assert vals == {
        "https://a.example/1": "<b>A</b>",
        "https://b.example/2": "<b>B</b>",
    }
