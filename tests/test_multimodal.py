"""Multimodal plumbing tests: schemas/batching real, decode stubbed."""


from pyspark.sql import types as T

from politics_crawler_spark.operators.multimodal import extract_media_features

# The media table extract_media_features reads.
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _media_df(spark):
    rows = [
        {"media_id": 1, "kind": "image", "payload": b"\x89PNG" + b"x" * 100,
         "mime": "image/png", "meta": {"src": "a"}},
        {"media_id": 2, "kind": "image", "payload": b"\xff\xd8" + b"y" * 37,
         "mime": "image/jpeg", "meta": {"src": "b"}},
        {"media_id": 3, "kind": "audio", "payload": b"RIFF" + b"z" * 10,
         "mime": "audio/wav", "meta": {}},
        {"media_id": 4, "kind": "video", "payload": None, "mime": None, "meta": None},
    ]
    return spark.createDataFrame(rows, schema=MEDIA)


def test_feature_extraction_undecodable_image_no_decoder(spark):
    """An image payload that is not a PNG/GIF/JPEG header reports status
    no_decoder with no invented dims or features, whatever is installed;
    audio/video stay byte-level stubs."""
    rows = {r.media_id: r for r in extract_media_features(_media_df(spark)).collect()}
    for i in (1, 2):  # a bare "\x89PNG" and a broken JPEG marker stream
        assert rows[i].status == "no_decoder"
        assert (rows[i].width, rows[i].height, rows[i].feature) == (None, None, None)
    assert rows[3].status == "stub" and rows[3].feature is None
    assert rows[3].n_bytes == 14
    assert rows[4].status == "stub" and rows[4].n_bytes == 0


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0) + b"\x00" * 8)


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 5


def _jpeg(w, h):
    import struct
    # SOI, APP0 (len 16), DQT (len 4), SOF0 with dims
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03\x00\x00\x00")


def test_header_decode_stdlib():
    """PNG/GIF/JPEG dims parse from headers alone — no PIL (VERDICT r2 #7)."""
    from politics_crawler_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_gif(120, 80)) == ("gif", 120, 80)
    assert parse_image_header(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert parse_image_header(b"\x89PNG\r\n\x1a\nXXXX") is None  # truncated
    assert parse_image_header(b"\xff\xd8\x00\x00") is None  # broken markers
    assert parse_image_header(b"not an image") is None
    assert parse_image_header(None) is None
    assert parse_image_header(b"") is None


def test_q40_expression_built_headers_round_trip(spark):
    """q40's JVM-expression-built PNG/GIF/JPEG headers (hex-assembled,
    unhex'd to binary) decode through the Arrow mapInPandas path to the
    exact planted dims — the binary round-trip is byte-exact for all
    three header layouts (big-endian u32, little-endian u16, SOF0)."""
    import __spark_entry__ as entry
    from tests.conftest import SF_001

    rows = entry.q40_media_header_decode(spark, SF_001).collect()
    assert len(rows) > 0
    sizes = set()
    for r in rows:
        assert r.status == "ok"
        assert r.width == r.media_id % 1024 + 16
        assert r.height == (r.media_id * 7) % 768 + 16
        sizes.add(r.n_bytes)
    assert sizes == {24, 10, 11}  # png, gif, jpeg headers all exercised


def test_feature_extraction_real_headers(spark):
    """End-to-end mapInPandas with REAL header payloads: dims come from the
    header parse (status ok)."""
    rows = [
        {"media_id": 10, "kind": "image", "payload": _png(320, 200),
         "mime": "image/png", "meta": {}},
        {"media_id": 11, "kind": "image", "payload": _gif(64, 32),
         "mime": "image/gif", "meta": {}},
        {"media_id": 12, "kind": "image", "payload": _jpeg(800, 600),
         "mime": "image/jpeg", "meta": {}},
    ]
    df = spark.createDataFrame(rows, schema=MEDIA)
    out = {r.media_id: r for r in
           extract_media_features(df).collect()}
    assert (out[10].width, out[10].height, out[10].status) == (320, 200, "ok")
    assert (out[11].width, out[11].height, out[11].status) == (64, 32, "ok")
    assert (out[12].width, out[12].height, out[12].status) == (800, 600, "ok")
    assert len(out[10].feature) == 8 and abs(sum(out[10].feature) - 1.0) < 1e-3
