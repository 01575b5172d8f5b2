"""``transport.map_pages``, the one Arrow transport of per-row Python
kernels, checked against a plain-Python loop over the same kernel: 0, 1
and N output rows per input, NULL values, an empty batch, a batch with
no output, and timestamp/binary/nested pass-through columns repeated in
input order.  Then the output schema of every operator that crosses
Arrow through it, pinned."""

import datetime
import os

import pyarrow as pa
import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from layout_parser_spark import schema as S
from layout_parser_spark.transport import _map_batch, map_pages

IN_SCHEMA = (
    "id long, ts timestamp, blob binary, "
    "nested struct<tags: array<string>, w: double>, n int"
)
FIELDS = [StructField("out", LongType()), StructField("echo", BinaryType())]


def _make_kernel():
    # a nested function: Spark's workers cannot import this test module,
    # so the kernel must be pickled by value
    def kernel(n, blob):
        """NULL ``n`` → one all-NULL row; otherwise ``n`` rows."""
        if n is None:
            return [(None, None)]
        return [(10 * n + i, blob) for i in range(n)]

    return kernel


kernel = _make_kernel()


def _ts(h):
    return datetime.datetime(2024, 5, 17, h, 30, 15, 123456)


ROWS = [
    (0, _ts(1), b"a", {"tags": ["x", "y"], "w": 1.0}, 3),  # N rows
    (1, _ts(2), None, None, 1),  # 1 row, NULL pass-through values
    (2, None, b"", {"tags": [], "w": None}, 0),  # 0 rows
    (3, _ts(3), b"\x00\xff", {"tags": None, "w": 2.5}, None),  # NULL arg
    (4, _ts(4), b"b", {"tags": ["z"], "w": 0.0}, 0),  # with row 5: a
    (5, _ts(5), b"c", {"tags": ["q"], "w": -1.0}, 0),  # batch, no output
    (6, _ts(6), b"\x01", {"tags": ["r", None], "w": 3.0}, 2),
]


def _plain(rows, keep):
    """The reference: the same kernel in a plain-Python loop."""
    names = ["id", "ts", "blob", "nested", "n"]
    out = []
    for r in rows:
        rec = dict(zip(names, r))
        for o in kernel(rec["n"], rec["blob"]):
            out.append(tuple(rec[c] for c in keep) + tuple(o))
    return out


def _collect(df):
    return [tuple(r.asDict(recursive=True).values()) for r in df.collect()]


@pytest.fixture
def two_row_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize(
    "keep",
    [None, ["nested", "id"], ["n", "ts", "blob"], []],
    ids=["default", "reordered", "args-kept", "none"],
)
def test_map_pages_equals_plain_loop(spark, two_row_batches, keep):
    # one partition, two rows per Arrow batch: rows 4 and 5 share a
    # batch in which no row yields output
    df = spark.createDataFrame(ROWS, IN_SCHEMA).coalesce(1)
    out = map_pages(df, kernel, ["n", "blob"], FIELDS, keep=keep)
    cols = ["id", "ts", "nested"] if keep is None else keep
    assert out.schema.fieldNames() == cols + ["out", "echo"]
    assert [f.dataType for f in out.schema][: len(cols)] == [
        df.schema[c].dataType for c in cols
    ]
    assert _collect(out) == _plain(ROWS, cols)


def test_map_pages_empty_input(spark):
    df = spark.createDataFrame([], IN_SCHEMA)
    out = map_pages(df, kernel, ["n", "blob"], FIELDS)
    assert out.collect() == []
    assert out.schema.fieldNames() == ["id", "ts", "nested", "out", "echo"]


def test_map_batch_empty_batch():
    schema = pa.schema([("id", pa.int64()), ("n", pa.int32())])
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    out = _map_batch(
        empty, lambda n: [(n,)], ["n"], ["id"], ["id", "n2"], [pa.int64()]
    )
    assert out.num_rows == 0
    assert out.schema.names == ["id", "n2"]
    assert out.schema.field("id").type == pa.int64()


def test_map_pages_kernel_error_fails_the_task(spark):
    """The transport swallows nothing: a raising kernel fails the job."""

    def broken(n, blob):
        raise ValueError("kernel bug")

    df = spark.createDataFrame(ROWS, IN_SCHEMA)
    with pytest.raises(Exception, match="kernel bug"):
        map_pages(df, broken, ["n", "blob"], FIELDS).collect()


# ---------------------------------------------------------------------------
# every operator on the transport keeps the output schema it had as a
# hand-rolled mapInPandas stage
# ---------------------------------------------------------------------------
_BLOCK = S.TEXTBLOCK.simpleString()
_MEDIA = "url:string,id:bigint,payload:binary,blocks:array<%s>" % _BLOCK
_PDF = "page_data:struct<width:double,height:double,index:int>," + (
    "blocks:array<%s>" % _BLOCK
)
OPERATOR_SCHEMAS = {
    "image_phash": "url:string,phash:bigint",
    "video_phash": "url:string,vhash:bigint",
    "extract_audio_features": _MEDIA + ",audio:struct<sample_rate:int,"
    "channels:int,duration_s:double,rms:double,peak:double,"
    "zero_cross_rate:double>",
    "extract_audio_fingerprints": "url:string,afp:bigint,codes:array<int>",
    "media_metadata_decoded": _MEDIA + ",meta:struct<media_type:string,"
    "byte_len:int,digest:string,width:int,height:int>",
    "extract_image_features": _MEDIA
    + ",img:struct<height:int,width:int,features:array<double>>",
    "crop_image_blocks": "url:string,block_id:int,crop_w:int,crop_h:int,"
    "crop:binary",
    "sample_video_frames": "url:string,frame_idx:int,ts_s:double,"
    "height:int,width:int,features:array<double>",
    "tesseract_acquire": "url:string,id:bigint,level:bigint,"
    "page_num:bigint,block_num:bigint,par_num:bigint,line_num:bigint,"
    "word_num:bigint,left:bigint,top:bigint,width:bigint,height:bigint,"
    "conf:double,text:string,pos:bigint",
    "load_pdf_pages": "url:string," + _PDF,
    "load_pdf_pages_with_images": "url:string," + _PDF
    + ",image:binary,image_w:int,image_h:int",
    "read_warc": "url:string,warc_ts:timestamp,html:binary,text:string,"
    "lang:string",
}


def _operator_outputs(spark, tmp_path):
    from layout_parser_spark.operators.audio import (
        extract_audio_features,
        extract_audio_fingerprints,
    )
    from layout_parser_spark.operators.multimodal import (
        crop_image_blocks,
        extract_image_features,
        media_metadata_decoded,
        sample_video_frames,
    )
    from layout_parser_spark.operators.ocr_acquire import tesseract_acquire
    from layout_parser_spark.operators.phash import image_phash, video_phash
    from layout_parser_spark.sources.pdf import (
        load_pdf_pages,
        load_pdf_pages_with_images,
    )
    from layout_parser_spark.sources.warc import read_warc, write_warc_file

    media = StructType(
        [
            StructField("url", StringType()),
            StructField("id", LongType()),
            StructField("payload", BinaryType()),
            StructField("blocks", ArrayType(S.TEXTBLOCK)),
        ]
    )
    df = spark.createDataFrame([], media)
    warc = write_warc_file(
        [{"url": "u", "date": "2024-01-01T00:00:00Z", "html": b"<html>"}]
    )
    (tmp_path / "a.warc").write_bytes(warc)
    return {
        "image_phash": image_phash(df),
        "video_phash": video_phash(df),
        "extract_audio_features": extract_audio_features(df),
        "extract_audio_fingerprints": extract_audio_fingerprints(df),
        "media_metadata_decoded": media_metadata_decoded(df),
        "extract_image_features": extract_image_features(df),
        "crop_image_blocks": crop_image_blocks(df),
        "sample_video_frames": sample_video_frames(df),
        # the binary is only resolved at build time; nothing runs here
        "tesseract_acquire": tesseract_acquire(
            df, ["url", "id"], image_col="payload", tesseract_cmd=os.devnull
        ),
        "load_pdf_pages": load_pdf_pages(df),
        "load_pdf_pages_with_images": load_pdf_pages_with_images(df),
        "read_warc": read_warc(spark, str(tmp_path)),
    }


def test_operator_schemas_pinned(spark, tmp_path):
    got = {
        name: out.schema.simpleString()[len("struct<") : -1]
        for name, out in _operator_outputs(spark, tmp_path).items()
    }
    assert got == OPERATOR_SCHEMAS
