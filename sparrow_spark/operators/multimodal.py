"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched pandas
iterators (mapInPandas). The heavy codecs (PIL/ffmpeg/torchaudio) are
not available in this container, so the decode step is a clearly-marked
deterministic fake — but the Spark-side plumbing (binary schema, Arrow
batch transfer, UDF signature, partition-parallel execution) is real
and oracle-checked: the fake "decoder" computes arithmetic on byte
lengths that the DuckDB oracle reproduces in SQL, proving the Python
batch path returns exactly what the JVM path would.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sparrow_spark.registry import query
from sparrow_spark.sources import load_table, widen

HAVE_PIL = False
try:  # pragma: no cover - not installed in this environment
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    pass

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("media_kind", StringType()),
    ]
)


def real_decode(blob: bytes) -> tuple[int, int]:  # pragma: no cover
    """Real image decode — requires PIL, absent in this container."""
    if not HAVE_PIL:
        raise NotImplementedError(
            "image decoding requires PIL; install pillow on the cluster image"
        )
    import io

    import PIL.Image

    with PIL.Image.open(io.BytesIO(blob)) as im:
        return im.width, im.height


def decode_media_batches(use_pil: bool = HAVE_PIL):
    """Factory for the mapInPandas decode worker: one Arrow batch in,
    one metadata batch out. At scale each task decodes its partition's
    blobs independently — no shuffle, no driver involvement.

    All worker callables in this module are built by factories returning
    CLOSURES: cloudpickle serializes nested functions by value, so
    executors never import sparrow_spark (module-level functions pickle
    by reference and break when the package isn't on the worker
    PYTHONPATH — e.g. a driver run from another cwd, or a cluster
    without the package shipped)."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            n_bytes = pdf["blob"].map(len).astype("int64")
            if use_pil:  # pragma: no cover
                import io

                import PIL.Image

                def dims_of(blob):
                    with PIL.Image.open(io.BytesIO(blob)) as im:
                        return im.width, im.height

                dims = pdf["blob"].map(dims_of)
                width = dims.map(lambda d: d[0]).astype("int64")
                height = dims.map(lambda d: d[1]).astype("int64")
            else:
                # Deterministic stand-in (oracle mirrors this arithmetic)
                width, height = (n_bytes % 640 + 1), ((n_bytes * 7) % 480 + 1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "width": width,
                    "height": height,
                    "media_kind": "image",
                }
            )

    return worker


def with_binary_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fixture adapter: treat the document text bytes as the opaque blob
    (real pipelines read the blob from parquet/object storage directly)."""
    return df.withColumn("blob", F.col(text_col).cast(BinaryType()))


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_width", LongType()),
        StructField("out_height", LongType()),
        StructField("out_bytes", LongType()),
    ]
)

FEATURES_SCHEMA = "doc_id bigint, features array<double>"

FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_offset", LongType()),
    ]
)

TARGET_W, TARGET_H = 224, 224
N_FEATURES = 8
FRAME_STRIDE_BYTES = 100
FRAME_SAMPLE_EVERY = 4


def resize_batches(target_w: int = TARGET_W, target_h: int = TARGET_H):
    """Factory for the image-resize mapInPandas worker (closure — see
    decode_media_batches). Real path: decode, resample to (target_w,
    target_h), re-encode (PIL, absent here). The stub emits the
    deterministic output geometry + the RGB buffer size the real resize
    would produce; the Spark-side batch shape is identical."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            n = pdf["blob"].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_width": target_w,
                    "out_height": target_h,
                    # 3 bytes/pixel RGB + a length-dependent header stub.
                    "out_bytes": target_w * target_h * 3 + (n % 64),
                }
            )

    return worker


def feature_batches(n_features: int = N_FEATURES):
    """Factory for the feature-extraction mapInPandas worker (closure —
    see decode_media_batches). Real path: a vision/audio encoder over
    the decoded tensor. The stub derives a deterministic n-dim vector
    from byte length so the Arrow array<double> round-trip is
    oracle-checkable."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            n = pdf["blob"].map(len).astype("int64")
            feats = [
                [float(((int(nb) * (i + 3)) % 97) / 97.0) for i in range(n_features)]
                for nb in n
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return worker


def frame_sample_batches(
    stride: int = FRAME_STRIDE_BYTES, every: int = FRAME_SAMPLE_EVERY
):
    """Factory for the video frame-sampling mapInPandas worker (closure
    — see decode_media_batches) — a 1→N row expansion inside the Python
    batch (each blob yields every `every`-th frame). Real path:
    container demux + keyframe decode (ffmpeg)."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, offs = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = len(blob) // stride + 1
                for fi in range(0, n_frames, every):
                    ids.append(doc_id)
                    idxs.append(fi)
                    offs.append(fi * stride)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_offset": offs}
            )

    return worker


@query(
    "q_multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           CAST({TARGET_W} AS BIGINT) AS out_width,
           CAST({TARGET_H} AS BIGINT) AS out_height,
           CAST({TARGET_W * TARGET_H * 3} + octet_length(encode(text)) % 64
                AS BIGINT) AS out_bytes
    FROM documents
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_column(widen(load_table(spark, sf_dir, "documents")))
    return docs.select("doc_id", "blob").mapInPandas(
        resize_batches(), schema=RESIZED_SCHEMA
    )


@query(
    "q_multimodal_features",
    oracle=f"""
    SELECT d.doc_id,
           CAST(t.i AS BIGINT) AS feature_idx,
           CAST((octet_length(encode(d.text)) * (t.i + 3)) % 97 AS DOUBLE) / 97.0
               AS feature_value
    FROM documents d, range(0, {N_FEATURES}) AS t(i)
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The library operator returns `features array<double>` (the shape a
    # model-training consumer wants); the registered query posexplodes it
    # to scalar (doc_id, feature_idx, feature_value) rows because the
    # driver's canonicalizer sorts with pandas and cannot hash a
    # list-typed column. Same data, scalar shape.
    # No widen() here: this stub's per-row cost is ~0, so Python-worker
    # fan-out costs more than it saves (measured 0.25s at 1 partition
    # vs 0.39s at 32). With a real encoder (ms/doc) the caller widens
    # at ingestion — see q_multimodal_decode/resize for that pattern.
    feats = multimodal_features(load_table(spark, sf_dir, "documents"))
    return feats.select(
        "doc_id",
        F.posexplode("features").alias("feature_idx", "feature_value"),
    ).select(
        "doc_id",
        F.col("feature_idx").cast("bigint").alias("feature_idx"),
        "feature_value",
    )


def multimodal_features(docs: DataFrame) -> DataFrame:
    """Library API: per-doc feature vector as array<double> (Arrow
    round-trip through the mapInPandas worker)."""
    docs = with_binary_column(docs)
    return docs.select("doc_id", "blob").mapInPandas(
        feature_batches(), schema=FEATURES_SCHEMA
    )


@query(
    "q_multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(unnest(range(0, octet_length(encode(text)) // {FRAME_STRIDE_BYTES} + 1,
                             {FRAME_SAMPLE_EVERY})) AS BIGINT) AS frame_idx,
           CAST(unnest(range(0, octet_length(encode(text)) // {FRAME_STRIDE_BYTES} + 1,
                             {FRAME_SAMPLE_EVERY})) * {FRAME_STRIDE_BYTES} AS BIGINT)
               AS frame_offset
    FROM documents
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_column(widen(load_table(spark, sf_dir, "documents")))
    return docs.select("doc_id", "blob").mapInPandas(
        frame_sample_batches(), schema=FRAMES_SCHEMA
    )


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS BIGINT) AS height,
           'image' AS media_kind,
           md5(text) AS content_hash
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_binary_column(widen(load_table(spark, sf_dir, "documents")))
    decoded = docs.select("doc_id", "blob").mapInPandas(
        decode_media_batches(), schema=DECODED_SCHEMA
    )
    # Join metadata back to a JVM-side content hash: proves the Arrow
    # round-trip pairs rows correctly.
    hashes = docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    return decoded.join(hashes, on="doc_id").select(
        "doc_id", "n_bytes", "width", "height", "media_kind", "content_hash"
    )


# ---------------------------------------------------------------------------
# REAL image decode, no external codec: PPM (P6) and uncompressed
# 24-bit BMP are fixed, public formats decodable in pure Python, so
# this path closes the one stubbed branch in the module — the blobs
# are genuine image files (built by our own encoder), the decoder
# parses headers and rasters for real (BMP: bottom-up rows, BGR order,
# 4-byte row padding; PPM: ASCII header + comments), and a
# position-WEIGHTED checksum proves pixels come back in image order
# (a decoder that forgets the BMP row flip or BGR swap fails it).
# ---------------------------------------------------------------------------

DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pix_sum", LongType()),
        StructField("wchecksum", LongType()),
    ]
)


def _image_codecs():
    """Pure-Python PPM(P6)/BMP(24bpp BI_RGB) encode + decode. Nested
    functions so worker closures pickle them BY VALUE (executors never
    import sparrow_spark — see decode_media_batches)."""
    import struct

    import numpy as np

    def raster(doc_id: int, w: int, h: int) -> np.ndarray:
        # Channel value at image position p=(y*w+x), channel c:
        # (doc_id + 3p + c) % 256 — i.e. raster byte i = (doc_id+i)%256.
        n = w * h * 3
        return ((doc_id + np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)

    def encode_ppm(doc_id: int, w: int, h: int) -> bytes:
        header = f"P6\n# doc {doc_id}\n{w} {h}\n255\n".encode()
        return header + raster(doc_id, w, h).tobytes()

    def encode_bmp(doc_id: int, w: int, h: int) -> bytes:
        # Bottom-up rows, BGR channel order, rows padded to 4 bytes —
        # all as array ops (the per-pixel Python loop was the bench
        # hot spot; the format semantics are unchanged and pinned by
        # the roundtrip test + the oracle's closed-form checksums).
        px = raster(doc_id, w, h).reshape(h, w, 3)
        bgr = px[::-1, :, ::-1].reshape(h, w * 3)
        pad = (4 - (w * 3) % 4) % 4
        padded = np.zeros((h, w * 3 + pad), dtype=np.uint8)
        padded[:, : w * 3] = bgr
        data = padded.tobytes()
        off = 14 + 40
        file_header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
        info_header = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        return file_header + info_header + data

    def decode_image(blob: bytes):
        """-> (fmt, w, h, pixels) with pixels row-major top-down RGB.
        Raises ValueError on anything malformed — a corrupt blob in a
        100 TB crawl must surface, not silently zero out."""
        if blob[:2] == b"P6":
            # ASCII header: magic, then 3 ints (w, h, maxval), with
            # whitespace and '#' comments between tokens.
            i, tokens = 2, []
            while len(tokens) < 3:
                while i < len(blob) and blob[i : i + 1].isspace():
                    i += 1
                if blob[i : i + 1] == b"#":
                    while i < len(blob) and blob[i : i + 1] != b"\n":
                        i += 1
                    continue
                start = i
                while i < len(blob) and not blob[i : i + 1].isspace():
                    i += 1
                tokens.append(int(blob[start:i]))
            i += 1  # single whitespace after maxval
            w, h, maxval = tokens
            if maxval != 255:
                raise ValueError(f"unsupported PPM maxval {maxval}")
            px = blob[i : i + w * h * 3]
            if len(px) != w * h * 3:
                raise ValueError("truncated PPM raster")
            return "ppm", w, h, px
        if blob[:2] == b"BM":
            import struct as _s

            off = _s.unpack_from("<I", blob, 10)[0]
            hdr_size, w, h = _s.unpack_from("<Iii", blob, 14)
            planes, bpp, compression = _s.unpack_from("<HHI", blob, 26)
            if bpp != 24 or compression != 0:
                raise ValueError(f"unsupported BMP bpp={bpp} comp={compression}")
            if h <= 0:
                raise ValueError("top-down BMP not supported")
            pad = (4 - (w * 3) % 4) % 4
            stride = w * 3 + pad
            if len(blob) < off + h * stride:
                raise ValueError("truncated BMP raster")
            # File rows are bottom-up and BGR; flip both axes in one
            # strided view instead of a per-pixel loop.
            arr = np.frombuffer(blob, np.uint8, count=h * stride, offset=off)
            rgb = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
            return "bmp", w, h, np.ascontiguousarray(rgb).tobytes()
        raise ValueError(f"unknown image magic {blob[:2]!r}")

    return encode_ppm, encode_bmp, decode_image


ENCODE_PPM, ENCODE_BMP, DECODE_IMAGE = _image_codecs()


def encode_image_batches():
    """mapInPandas worker factory: synthesize a real PPM/BMP file per
    document (dims from n_chars, pixels from doc_id — both closed-form
    so the oracle can predict the decode output without decoding)."""
    encode_ppm, encode_bmp, _ = _image_codecs()

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            blobs = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = int(n_chars) % 16 + 2
                h = int(n_chars) % 11 + 2
                enc = encode_bmp if int(doc_id) % 2 == 0 else encode_ppm
                blobs.append(enc(int(doc_id), w, h))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return worker


def decode_image_batches():
    """mapInPandas worker factory: REAL header+raster decode of the
    binary column; emits geometry plus an unweighted and a
    position-weighted pixel checksum (the weighted one is order-
    sensitive: it catches a decoder that misses the BMP row flip or
    BGR swap, which a plain sum would absorb)."""
    _, _, decode_image = _image_codecs()

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in
                    ("doc_id", "fmt", "width", "height", "pix_sum", "wchecksum")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                fmt, w, h, px = decode_image(bytes(blob))
                a = np.frombuffer(px, np.uint8)
                t = a.reshape(-1, 3).sum(axis=1, dtype=np.int64)
                wsum = int(((np.arange(t.size, dtype=np.int64) + 1) * t).sum())
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pix_sum"].append(int(a.sum(dtype=np.int64)))
                rows["wchecksum"].append(wsum)
            yield pd.DataFrame(rows)

    return worker


@query(
    "q_multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
           CAST(n_chars % 16 + 2 AS BIGINT) AS width,
           CAST(n_chars % 11 + 2 AS BIGINT) AS height,
           CAST(list_sum([(doc_id + i) % 256
                          for i in range(0, (n_chars % 16 + 2) * (n_chars % 11 + 2) * 3)])
                AS BIGINT) AS pix_sum,
           CAST(list_sum([(p + 1) * ((doc_id + 3 * p) % 256
                                     + (doc_id + 3 * p + 1) % 256
                                     + (doc_id + 3 * p + 2) % 256)
                          for p in range(0, (n_chars % 16 + 2) * (n_chars % 11 + 2))])
                AS BIGINT) AS wchecksum
    FROM documents
    """,
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode: encode a genuine PPM/BMP blob per doc,
    then parse the file bytes back — header, padding, row order,
    channel order — and checksum the pixels. The oracle predicts every
    output in closed form, so any decoder slip (row flip, BGR,
    padding) hash-fails.

    r16 (guide SS4.1/SS8): the encode and decode workers are COMPOSED
    inside ONE mapInPandas stage (both are Iterator[pd.DataFrame] ->
    Iterator[pd.DataFrame], so the decode worker consumes the encode
    worker's output directly). Two chained stages serialized every
    blob across the JVM<->Python Arrow boundary twice for nothing —
    the JVM never looks at the bytes between the stages. Now the blob
    exists only inside the Python worker: zero payload bytes cross the
    boundary (only doc_id/n_chars in, six scalar columns out), and the
    plan drops from two Python eval nodes to one. Both operator
    workers run unchanged; the decode still parses real file bytes.
    Scale: map-side Arrow batches; blobs never leave their task."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    enc, dec = encode_image_batches(), decode_image_batches()

    def encode_then_decode(batches):
        return dec(enc(batches))

    return docs.select("doc_id", "n_chars").mapInPandas(
        encode_then_decode, schema=DECODED_IMAGE_SCHEMA
    )


def phash_batches():
    """mapInPandas worker factory: REAL decode of the binary image
    column followed by a blockwise perceptual hash (aHash family):
    grayscale -> 2x2 block integer sums -> bit b set iff block mean
    exceeds the whole-image mean. The comparison is done in exact
    integer cross-multiplication (cell_sum * n_pixels > total_sum *
    cell_pixels) so the hash is bit-identical on any engine — no
    float thresholds near ties."""
    _, _, decode_image = _image_codecs()

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in
                    ("doc_id", "fmt", "width", "height", "phash", "content_key")}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                fmt, w, h, px = decode_image(bytes(blob))
                g = (
                    np.frombuffer(px, np.uint8)
                    .reshape(h, w, 3)
                    .sum(axis=2, dtype=np.int64)
                )
                by = (np.arange(h) * 2) // h
                bx = (np.arange(w) * 2) // w
                total, n = int(g.sum()), w * h
                phash = 0
                for r in (0, 1):
                    for c in (0, 1):
                        cell = g[by == r][:, bx == c]
                        if int(cell.sum()) * n > total * cell.size:
                            phash |= 1 << (r * 2 + c)
                # Content identity of the DECODED pixels (not the file
                # bytes: PPM headers embed the full doc_id comment, so
                # byte-identical rasters can differ at the blob level).
                ck = hashlib.md5(f"{fmt}|{w}|{h}|".encode() + px).hexdigest()
                rows["doc_id"].append(doc_id)
                rows["fmt"].append(fmt)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["phash"].append(phash)
                rows["content_key"].append(ck)
            yield pd.DataFrame(rows)

    return worker


@query(
    "q_image_phash_dedup",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
             n_chars % 16 + 2 AS w, n_chars % 11 + 2 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, t.p % w AS x, t.p // w AS y,
             ((doc_id + 3*t.p) % 256) + ((doc_id + 3*t.p + 1) % 256)
               + ((doc_id + 3*t.p + 2) % 256) AS gsum
      FROM dims, LATERAL (SELECT unnest(range(0, w*h)) AS p) t
    ),
    cells AS (
      SELECT doc_id, (y*2)//h AS by, (x*2)//w AS bx,
             CAST(sum(gsum) AS BIGINT) AS cs, count(*) AS cn
      FROM px GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT doc_id, CAST(sum(gsum) AS BIGINT) AS ts, count(*) AS tn
      FROM px GROUP BY 1
    ),
    ph AS (
      SELECT c.doc_id,
             CAST(sum(CASE WHEN cs*tn > ts*cn
                           THEN (1 << CAST(by*2+bx AS INT)) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM cells c JOIN tot t ON c.doc_id = t.doc_id GROUP BY 1
    )
    SELECT d.doc_id, d.fmt, CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height, phash,
           CAST(count(*) OVER (PARTITION BY d.doc_id % 256, w, h)
                AS BIGINT) AS exact_dup_cnt,
           CAST(count(*) OVER (PARTITION BY w, h, phash)
                AS BIGINT) AS near_dup_cnt
    FROM dims d JOIN ph USING (doc_id)
    """,
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over REAL decoded pixels: encode a
    genuine PPM/BMP blob per doc, decode it back, grayscale it, and
    compute a blockwise average-hash (the aHash family: Monga &
    Evans-style block means; the reference has no image pipeline —
    this extends the multimodal surface the way a crawl pipeline
    dedups near-identical images before training).

    Exact-dup groups key on an md5 of the DECODED raster (format
    headers differ even when pixels match); near-dup buckets key on
    (width, height, phash). The oracle re-derives both in closed form
    from the synthesis rule, so a decoder or hash slip (row flip, BGR
    order, wrong block boundary, float-tie drift) hash-fails.

    Scale: decode+hash is one Arrow mapInPandas pass — blobs never
    leave their partition and only (doc_id, 16-byte key, 4-bit hash)
    rows shuffle; both dup counts are keyed window aggregates (same
    shuffle shape as groupBy+join), never pairwise. At 100 TB the
    near-dup buckets feed a hamming-band verify exactly like
    q_dedup_simhash_hamming."""
    docs = widen(load_table(spark, sf_dir, "documents"))
    # r16: encode and phash workers composed inside ONE Python stage —
    # same rationale and mechanics as q_multimodal_decode_real (the
    # blob bytes never cross the Arrow boundary; one Python eval node
    # instead of two; both workers run unchanged).
    enc, ph = encode_image_batches(), phash_batches()

    def encode_then_phash(batches):
        return ph(enc(batches))

    hashed = docs.select("doc_id", "n_chars").mapInPandas(
        encode_then_phash,
        schema="doc_id bigint, fmt string, width bigint, height bigint, "
        "phash bigint, content_key string",
    )
    from pyspark.sql import Window

    exact_w = Window.partitionBy("content_key")
    near_w = Window.partitionBy("width", "height", "phash")
    return (
        hashed.withColumn(
            "exact_dup_cnt", F.count(F.lit(1)).over(exact_w).cast("bigint")
        )
        .withColumn("near_dup_cnt", F.count(F.lit(1)).over(near_w).cast("bigint"))
        .select(
            "doc_id", "fmt", "width", "height", "phash",
            "exact_dup_cnt", "near_dup_cnt",
        )
    )


# ---------------------------------------------------------------------------
# Audio feature extraction (r9). The audio tier of the multimodal
# surface: frame-level RMS energy and zero-crossing rate over PCM
# samples, computed in an Arrow-batched mapInPandas pass (numpy per
# batch — the real production shape for a decoded-audio column).
# DECODE IS A DETERMINISTIC FAKE: no audio codec ships in this
# container, so the "decoder" synthesizes 8-bit-style PCM from the
# document's byte stream (sample_i = byte_i - 96, roughly centering
# lowercase text); the Spark-side plumbing — binary-ish column in,
# Arrow batches, frame loop, schema out — is real and tested. Frame
# features are exact integers (sum of squares, sign-change count), so
# the DuckDB oracle reproduces them bit-for-bit from ord() codes.
# ---------------------------------------------------------------------------
AUDIO_FRAME = 64


def audio_feature_batches(frame: int = AUDIO_FRAME):
    """mapInPandas kernel: text bytes -> fake PCM -> per-frame
    (energy_sq BIGINT, zero_crossings BIGINT), full frames only."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_frame, out_sq, out_zc = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                pcm = (
                    np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
                    .astype(np.int64)
                    - 96
                )
                n_frames = len(pcm) // frame
                for k in range(n_frames):
                    fr = pcm[k * frame : (k + 1) * frame]
                    out_doc.append(doc_id)
                    out_frame.append(k)
                    out_sq.append(int((fr * fr).sum()))
                    nz = fr[fr != 0]
                    out_zc.append(
                        int((np.sign(nz[1:]) != np.sign(nz[:-1])).sum())
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "frame": pd.Series(out_frame, dtype="int64"),
                    "energy_sq": pd.Series(out_sq, dtype="int64"),
                    "zero_crossings": pd.Series(out_zc, dtype="int64"),
                }
            )

    return gen


_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame", LongType()),
        StructField("energy_sq", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


@query(
    "q_audio_features_stub",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, i, length(text) AS n,
             ord(substr(lower(text), CAST(i AS INT), 1)) - 96 AS s
      FROM documents, unnest(range(1, length(text) + 1)) t(i)
    ), framed AS (
      SELECT doc_id, i, s,
             CAST((i - 1) // {AUDIO_FRAME} AS BIGINT) AS frame
      FROM chars
      WHERE (i - 1) // {AUDIO_FRAME} < n // {AUDIO_FRAME}
    ), signed AS (
      SELECT doc_id, frame, s, sign(s) AS sgn,
             lag(CASE WHEN sign(s) <> 0 THEN sign(s) END IGNORE NULLS)
               OVER (PARTITION BY doc_id, frame ORDER BY i) AS prev_sgn
      FROM framed
    ), frames AS (
      SELECT doc_id, frame,
             CAST(sum(s * s) AS BIGINT) AS energy_sq,
             CAST(count(CASE WHEN sgn <> 0 AND prev_sgn IS NOT NULL
                             AND sgn <> prev_sgn THEN 1 END) AS BIGINT)
               AS zero_crossings
      FROM signed GROUP BY doc_id, frame
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy_sq) AS BIGINT) AS total_energy_sq,
           CAST(sum(zero_crossings) AS BIGINT) AS total_zero_crossings,
           round(sqrt(CAST(max(CASE WHEN frame = 0 THEN energy_sq END)
                           AS DOUBLE) / {AUDIO_FRAME}), 4)
             AS first_frame_rms
    FROM frames GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_audio_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document audio feature rollup over the deterministic fake
    PCM stream: frame count, total in-frame energy (sum of squares),
    total zero crossings (sign changes between consecutive nonzero
    samples), and the first frame's RMS. The decode step is a
    clearly-marked synthetic stand-in (no audio codec in this
    container); the Arrow-batched mapInPandas frame loop, its typed
    output schema, and the per-frame feature math are the real
    production path.

    Scale: mapInPandas streams Arrow batches (no per-row Python
    overhead beyond the frame loop); frame features are exact
    BIGINTs so the rollup's keyed agg carries no float state, and
    the doc-keyed shuffle is the only exchange."""
    docs = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    frames = docs.mapInPandas(audio_feature_batches(), _AUDIO_SCHEMA)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum("energy_sq").cast("bigint").alias("total_energy_sq"),
            F.sum("zero_crossings")
            .cast("bigint")
            .alias("total_zero_crossings"),
            F.round(
                F.sqrt(
                    F.max(
                        F.when(F.col("frame") == 0, F.col("energy_sq"))
                    ).cast("double")
                    / AUDIO_FRAME
                )
                + F.lit(1e-9),
                4,
            ).alias("first_frame_rms"),
        )
        .orderBy("doc_id")
    )
