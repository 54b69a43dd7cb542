"""Multimodal queries (``mm_*``, ``k6_*``): binary columns, image codecs,
perceptual hashes.

There is no binary table in the driver's testdata, so these synthesize an
opaque ``content BINARY`` column from ``documents.text``: the point is to
exercise the real Spark-side plumbing (binary schema, Arrow batch shape,
mapInPandas partitioning) of the multimodal operators end to end. PNG pixel
paths are fully real (multimodal/png_codec.py) and value-checked by exact
oracles; non-PNG decode is stubbed per the container contract
(binary_ops.py STUB CONTRACT) and those queries register with
``oracle=None``, a rows-only check.

Perceptual-hash candidates are byte-banded joins (pigeonhole), never
all-pairs; the synthetic image and hash-byte helpers here are shared with
the dedup, dq, graph and stream families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.multimodal.binary_ops import (
    decode_image_meta,
    extract_features,
    mask_to_bboxes,
)
from jigsaw_spark.operators.similarity import srp_buckets
from jigsaw_spark.plans.registry import _t, register


def _as_binary_table(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("image_id"),
        F.lit(kind).alias("kind"),
        F.concat(F.lit("mem://documents/"), F.col("doc_id")).alias("path"),
        F.length("text").cast("long").alias("length"),
        F.encode("text", "utf-8").alias("content"),
    )


@register(
    "mm_decode_meta",
    """
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           'image' AS kind,
           'mem://documents/' || doc_id AS path,
           CAST(length(text) AS BIGINT) AS length,
           'unknown' AS format,
           CAST(NULL AS INT) AS width,
           CAST(NULL AS INT) AS height
    FROM documents
    """,
    "multimodal: binary-column metadata decode (PNG header parse + format "
    "sniffing) over mapInPandas — text payloads sniff to 'unknown', so the "
    "oracle value-checks the kernel's passthrough + sniff result exactly",
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_image_meta(_as_binary_table(spark, sf_dir, "image"))


@register(
    "mm_mask_bboxes",
    """
    WITH cells AS (
      SELECT doc_id, i % 4 AS x, i // 4 AS y,
             ('0x' || substr(md5(text), 2 * i + 1, 2))::INT AS v
      FROM documents CROSS JOIN (SELECT unnest(range(16)) AS i) g)
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           v AS label_r, v AS label_g, v AS label_b,
           CAST(min(x) AS INT) AS xmin, CAST(max(x) AS INT) AS xmax,
           CAST(min(y) AS INT) AS ymin, CAST(max(y) AS INT) AS ymax
    FROM cells GROUP BY doc_id, v
    """,
    "multimodal A6/A7: mask → per-label tight bboxes child table. The "
    "deterministic fake grid is md5(content)-derived, so the oracle "
    "replays the digest arithmetic relationally (hex pair i = cell i of "
    "the 4×4 grid) and value-checks the extent kernel exactly",
)
def mm_mask_bboxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mask_to_bboxes(_as_binary_table(spark, sf_dir, "mask"), fake=True)


@register(
    "mm_png_mask_bboxes",
    """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0)
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           0 AS label_r, 0 AS label_g, 0 AS label_b,
           0 AS xmin, 31 AS xmax, 0 AS ymin, 23 AS ymax
    FROM d
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR),
           64, 0, 128,
           CAST(1 + doc_id % 11 AS INT),
           CAST(1 + doc_id % 11 + 2 + doc_id % 3 AS INT),
           CAST(1 + doc_id % 5 AS INT),
           CAST(1 + doc_id % 5 + 2 + doc_id % 3 AS INT)
    FROM d
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR),
           0, 64, 64,
           CAST(17 + doc_id % 9 AS INT),
           CAST(17 + doc_id % 9 + 2 + doc_id % 4 AS INT),
           CAST(12 + doc_id % 7 AS INT),
           CAST(12 + doc_id % 7 + 2 + doc_id % 2 AS INT)
    FROM d
    """,
    "multimodal A6 REAL path: doc_id-derived PNG masks (pure-Python "
    "encode) decoded by the stdlib-zlib PNG codec into per-color tight "
    "bboxes — the oracle recomputes the painted-rectangle geometry in SQL, "
    "so the whole encode→decode→extent kernel is value-checked. Map-only "
    "Arrow kernels, zero shuffle.",
)
def mm_png_mask_bboxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.session import widen

    docs = widen(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import encode_png

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                arr = np.zeros((24, 32, 3), dtype=np.uint8)
                x0, y0 = 1 + i % 11, 1 + i % 5
                arr[y0 : y0 + 3 + i % 3, x0 : x0 + 3 + i % 3] = (64, 0, 128)
                x1, y1 = 17 + i % 9, 12 + i % 7
                arr[y1 : y1 + 3 + i % 2, x1 : x1 + 3 + i % 4] = (0, 64, 64)
                ids.append(str(i))
                blobs.append(encode_png(arr))
            yield pd.DataFrame({"image_id": ids, "content": blobs})

    masks = docs.mapInPandas(synth, "image_id string, content binary")
    return mask_to_bboxes(masks, fake=False)


def _as_audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize deterministic PCM16 WAV clips from documents.text (fixture
    generator — see audio_ops.synthesize_wav); real producers hand the same
    (audio_id, content) shape straight from binaryFile reads."""
    from jigsaw_spark.multimodal.audio_ops import synthesize_wav

    from jigsaw_spark.session import widen

    # widen(): the synth kernel is CPU-bound and would otherwise run
    # single-task on the 1-partition local scan (SCALE.md §9)
    docs = widen(
        _t(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("audio_id"), "text"
        )
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "audio_id": pdf["audio_id"],
                    "content": [
                        synthesize_wav(t.encode("utf-8")) for t in pdf["text"]
                    ],
                }
            )

    return docs.mapInPandas(synth, "audio_id string, content binary")


@register(
    "mm_audio_pipeline",
    None,
    "multimodal audio: WAV header decode (real RIFF parse) + PCM windowing "
    "(rms/peak/zero-crossings) joined and aggregated per clip — no codec "
    "deps, fully real path; rows-only check (binary synth not expressible "
    "in the oracle)",
)
def mm_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.multimodal.audio_ops import window_audio

    audio = _as_audio_table(spark, sf_dir)
    # ONE kernel pass: the windower carries clip metadata (already parsed
    # for the PCM decode), so no second decode + join is needed
    win = window_audio(audio, window=512, hop=256, include_clip_meta=True)
    return win.groupBy(
        "audio_id", "sample_rate", "n_samples", "duration_ms"
    ).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.round(F.avg("rms"), 6).alias("avg_rms"),
        F.round(F.max("peak"), 6).alias("max_peak"),
        F.sum("zero_crossings").alias("total_zc"),
    )


_FAKE_RAW = (
    "list_transform(range(64), i -> "
    "('0x' || substr(md5(text), 2 * (i % 16) + 1, 2))::INT / 255.0 - 0.5)"
)

_FAKE_NORM = f"sqrt(list_sum(list_transform({_FAKE_RAW}, x -> x * x)))"


# the kernel emits float32 (Arrow array<float>); replicate the rounding
_FAKE_EMB = (
    f"list_transform({_FAKE_RAW}, "
    f"x -> CAST(CAST(x / {_FAKE_NORM} AS FLOAT) AS DOUBLE))"
)


def _mm_feat_oracle() -> str:
    from jigsaw_spark.operators.similarity import srp_planes, srp_signature_sql

    # materialize the embedding once per row; inlining it into the
    # signature expression re-evaluates the md5 arithmetic 16× per plane
    return (
        f"WITH emb AS (SELECT CAST(doc_id AS BIGINT) AS vec_id, "
        f"{_FAKE_EMB} AS e FROM documents) "
        f"SELECT vec_id, {srp_signature_sql('e', srp_planes(16, 64))} AS sig "
        f"FROM emb"
    )


@register(
    "mm_extract_features",
    _mm_feat_oracle(),
    "multimodal: binary → embedding (deterministic md5-fake extractor, "
    "unit-norm float32) composed into SRP-LSH bucketing. The oracle "
    "replays the digest arithmetic, the float32 rounding, AND the 16 "
    "inlined-hyperplane signature relationally — full value check of the "
    "extract→bucket pipeline",
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(
        _as_binary_table(spark, sf_dir, "image"), dim=64, fake=True
    )
    ids = feats.select(
        F.col("image_id").cast("bigint").alias("vec_id"), "embedding"
    )
    return srp_buckets(ids, num_planes=16)


@register(
    "k6_bbox_norm",
    """
    WITH d AS (
      SELECT doc_id, 320 + (doc_id % 5) * 64 AS w, 480 AS h
      FROM documents WHERE doc_id % 10 = 0
    ), b AS (
      SELECT doc_id, w, h,
             'lab_' || CAST(doc_id % 3 AS VARCHAR) AS label,
             CAST(1 + doc_id % 3 AS BIGINT) AS label_int,
             doc_id % 100 AS xmin, doc_id % 80 AS ymin,
             doc_id % 100 + 10 + doc_id % 50 AS xmax,
             doc_id % 80 + 5 + doc_id % 40 AS ymax
      FROM d
      UNION ALL
      SELECT doc_id, w, h,
             'lab_' || CAST((doc_id + 1) % 3 AS VARCHAR),
             CAST(1 + (doc_id + 1) % 3 AS BIGINT),
             (doc_id * 7) % 150, (doc_id * 3) % 90,
             (doc_id * 7) % 150 + 20, (doc_id * 3) % 90 + 30
      FROM d)
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           CAST(xmin AS DOUBLE) / w AS xmin_n,
           CAST(xmax AS DOUBLE) / w AS xmax_n,
           CAST(ymin AS DOUBLE) / h AS ymin_n,
           CAST(ymax AS DOUBLE) / h AS ymax_n,
           label, label_int
    FROM b
    """,
    "K6 bbox export projection (reference bbox/model.py:310-356): pixel "
    "boxes normalized to [0,1] by per-image width/height through "
    "bbox_tfexample_projection, exploded back to rows — the oracle "
    "recomputes the synthesis arithmetic and the normalization division. "
    "Projection is pure column expressions + one broadcast label-map join.",
)
def k6_bbox_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.sources.model_exports import bbox_tfexample_projection

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    sid = F.col("doc_id").cast("string")
    images = docs.select(
        sid.alias("image_id"),
        F.concat(sid, F.lit(".png")).alias("filename"),
        F.lit("png").alias("format"),
        (F.lit(320) + (F.col("doc_id") % 5) * 64).cast("int").alias("width"),
        F.lit(480).alias("height"),
        F.encode(sid, "utf-8").alias("encoded"),
    )
    d = F.col("doc_id")
    b1 = docs.select(
        sid.alias("image_id"),
        F.concat(F.lit("lab_"), (d % 3).cast("string")).alias("label"),
        (d % 100).alias("xmin"),
        (d % 80).alias("ymin"),
        (d % 100 + 10 + d % 50).alias("xmax"),
        (d % 80 + 5 + d % 40).alias("ymax"),
    )
    b2 = docs.select(
        sid.alias("image_id"),
        F.concat(F.lit("lab_"), ((d + 1) % 3).cast("string")).alias("label"),
        ((d * 7) % 150).alias("xmin"),
        ((d * 3) % 90).alias("ymin"),
        ((d * 7) % 150 + 20).alias("xmax"),
        ((d * 3) % 90 + 30).alias("ymax"),
    )
    label_map = spark.createDataFrame(
        [("lab_0", 1), ("lab_1", 2), ("lab_2", 3)], "label string, label_int int"
    )
    proj = bbox_tfexample_projection(images, b1.unionByName(b2), label_map)
    z = F.arrays_zip(
        F.col("`image/object/bbox/xmin`").alias("xmin_n"),
        F.col("`image/object/bbox/xmax`").alias("xmax_n"),
        F.col("`image/object/bbox/ymin`").alias("ymin_n"),
        F.col("`image/object/bbox/ymax`").alias("ymax_n"),
        F.col("`image/object/class/text`").alias("label"),
        F.col("`image/object/class/label`").alias("label_int"),
    )
    return proj.select("image_id", F.explode(z).alias("b")).select(
        "image_id", "b.*"
    )


_DEEPLAB_SQL = """
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           CAST(24 AS BIGINT) AS height,
           CAST(32 AS BIGINT) AS width,
           CAST((3 + doc_id % 3) * (3 + doc_id % 3) AS BIGINT) AS car_px,
           CAST((3 + doc_id % 2) * (3 + doc_id % 4) AS BIGINT) AS ped_px,
           CAST(768 - (3 + doc_id % 3) * (3 + doc_id % 3)
                    - (3 + doc_id % 2) * (3 + doc_id % 4) AS BIGINT)
             AS bg_px
    FROM documents WHERE doc_id % 20 = 0
"""


@register(
    "k6_deeplab_export",
    _DEEPLAB_SQL,
    "K6 deeplab projection (reference deeplab/model.py:17-44) end-to-end "
    "WITH an exact oracle: synthesized color masks → grayscale class-id "
    "PNG (deeplab_projection) → serialized tf.train.Example (pure-Python "
    "protobuf) → PARSED BACK (decode_example + decode_png) into "
    "height/width and per-class pixel counts. The synthesis rectangles "
    "are closed-form in doc_id (disjoint, never clipped at 24x32), so "
    "the oracle recomputes the expected class histogram in SQL while the "
    "Spark side earns it by round-tripping the full binary pipeline — "
    "encode AND decode must both be right for the hash to match "
    "(formerly rows-only; byte-level parity stays in "
    "tests/test_model_exports.py).",
)
def k6_deeplab_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.session import widen
    from jigsaw_spark.sources.model_exports import (
        deeplab_projection,
        rows_to_tfexamples,
    )

    docs = widen(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import encode_png

        for pdf in batches:
            rows = {"image_id": [], "filename": [], "format": [], "width": [],
                    "height": [], "encoded": [], "mask": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                arr = np.zeros((24, 32, 3), dtype=np.uint8)
                x0, y0 = 1 + i % 11, 1 + i % 5
                arr[y0 : y0 + 3 + i % 3, x0 : x0 + 3 + i % 3] = (64, 0, 128)
                x1, y1 = 17 + i % 9, 12 + i % 7
                arr[y1 : y1 + 3 + i % 2, x1 : x1 + 3 + i % 4] = (0, 64, 64)
                rows["image_id"].append(str(i))
                rows["filename"].append(f"{i}.png")
                rows["format"].append("png")
                rows["width"].append(32)
                rows["height"].append(24)
                rows["encoded"].append(b"IMG" + str(i).encode())
                rows["mask"].append(encode_png(arr))
            yield pd.DataFrame(rows)

    import pandas as pd  # noqa: F401  (kernel dep)

    masks = docs.mapInPandas(
        synth,
        "image_id string, filename string, format string, width int, "
        "height int, encoded binary, mask binary",
    )
    label_colors = [("car", 1, (64, 0, 128)), ("pedestrian", 2, (0, 64, 64))]
    proj = deeplab_projection(masks, label_colors)
    ex = rows_to_tfexamples(proj)

    def roundtrip(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import decode_png
        from jigsaw_spark.sources.tfrecord import decode_example

        for pdf in batches:
            out = {"image_id": [], "height": [], "width": [],
                   "car_px": [], "ped_px": [], "bg_px": []}
            for _, row in pdf.iterrows():
                feats = decode_example(bytes(row["example"]))
                arr = decode_png(
                    bytes(feats["image/segmentation/class/encoded"][1][0])
                )
                out["image_id"].append(str(row["image_id"]))
                out["height"].append(int(feats["image/height"][1][0]))
                out["width"].append(int(feats["image/width"][1][0]))
                out["car_px"].append(int(np.count_nonzero(arr == 1)))
                out["ped_px"].append(int(np.count_nonzero(arr == 2)))
                out["bg_px"].append(int(np.count_nonzero(arr == 0)))
            yield pd.DataFrame(out)

    return ex.mapInPandas(
        roundtrip,
        "image_id string, height bigint, width bigint, "
        "car_px bigint, ped_px bigint, bg_px bigint",
    )


@register(
    "k6_feature_points",
    """
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           480 AS height, 640 AS width,
           doc_id % 97 AS x_nose,
           (doc_id * 3) % 97 AS x_tail,
           doc_id % 89 AS y_nose,
           (doc_id * 7) % 89 AS y_tail,
           CAST(doc_id % 13 AS DOUBLE) / 13.0 AS pose0,
           CAST(doc_id % 17 AS DOUBLE) / 17.0 AS pose1
    FROM documents WHERE doc_id % 10 = 0
    """,
    "K6 feature-points export projection (reference "
    "feature_points/model.py:115-148): centroid map -> consistency check "
    "against the label universe -> xs-then-ys packing in sorted label "
    "order + pose floats, re-flattened to scalars for the oracle, which "
    "recomputes the synthesis arithmetic. Pure column expressions.",
)
def k6_feature_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.sources.model_exports import feature_points_projection

    d = F.col("doc_id")
    sid = d.cast("string")
    meta = _t(spark, sf_dir, "documents").filter(d % 10 == 0).select(
        sid.alias("image_id"),
        F.lit(640).alias("width"),
        F.lit(480).alias("height"),
        F.encode(sid, "utf-8").alias("encoded"),
        F.lit("png").alias("format"),
        F.create_map(
            F.lit("nose"),
            F.array((d % 97).cast("int"), (d % 89).cast("int")),
            F.lit("tail"),
            F.array(((d * 3) % 97).cast("int"), ((d * 7) % 89).cast("int")),
        ).alias("centroids"),
        F.array(
            (d % 13).cast("double") / 13.0, (d % 17).cast("double") / 17.0
        ).alias("pose"),
    )
    proj = feature_points_projection(meta, ["nose", "tail"])
    fp = F.col("feature_points")
    return proj.select(
        "image_id",
        "height",
        "width",
        fp[0].alias("x_nose"),
        fp[1].alias("x_tail"),
        fp[2].alias("y_nose"),
        fp[3].alias("y_tail"),
        F.col("pose")[0].alias("pose0"),
        F.col("pose")[1].alias("pose1"),
    )


@register(
    "mm_png_instance_bboxes",
    """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    inst AS (
      SELECT doc_id, 64 AS r, 0 AS g, 128 AS b,
             1 + doc_id % 6 AS xmin, 1 + doc_id % 6 + 2 AS xmax,
             1 + doc_id % 4 AS ymin, 1 + doc_id % 4 + 2 AS ymax,
             9 AS area
      FROM d
      UNION ALL
      SELECT doc_id, 64, 0, 128,
             20 + doc_id % 5, 20 + doc_id % 5 + 2,
             2 + doc_id % 6, 2 + doc_id % 6 + 2, 9
      FROM d
      UNION ALL
      SELECT doc_id, 0, 64, 64,
             10 + doc_id % 4, 10 + doc_id % 4 + 3,
             15 + doc_id % 5, 15 + doc_id % 5 + 3, 16
      FROM d)
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           r AS label_r, g AS label_g, b AS label_b,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY ymin, xmin) - 1 AS INT)
             AS instance_id,
           CAST(xmin AS INT) AS xmin, CAST(xmax AS INT) AS xmax,
           CAST(ymin AS INT) AS ymin, CAST(ymax AS INT) AS ymax,
           CAST(area AS BIGINT) AS area
    FROM inst
    """,
    "multimodal A7 REAL path: two disjoint SAME-color rectangles + one "
    "other color per synthesized PNG — per-INSTANCE boxes via run-based "
    "connected-component labeling (the findContours analog), which "
    "mask_to_bboxes's per-color extents cannot separate. Oracle replays "
    "the geometry with raster-order instance ids.",
)
def mm_png_instance_bboxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.multimodal.binary_ops import mask_to_instance_bboxes
    from jigsaw_spark.session import widen

    docs = widen(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import encode_png

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                arr = np.zeros((24, 32, 3), dtype=np.uint8)
                x0, y0 = 1 + i % 6, 1 + i % 4
                arr[y0 : y0 + 3, x0 : x0 + 3] = (64, 0, 128)
                x1, y1 = 20 + i % 5, 2 + i % 6
                arr[y1 : y1 + 3, x1 : x1 + 3] = (64, 0, 128)
                x2, y2 = 10 + i % 4, 15 + i % 5
                arr[y2 : y2 + 4, x2 : x2 + 4] = (0, 64, 64)
                ids.append(str(i))
                blobs.append(encode_png(arr))
            yield pd.DataFrame({"image_id": ids, "content": blobs})

    masks = docs.mapInPandas(synth, "image_id string, content binary")
    return mask_to_instance_bboxes(masks, fake=False)


# Shared DuckDB replay of the deterministic pHash fixture: 16x16 gray
# gradient PNGs parameterized by doc_id (twin docs at %40==20 reuse their
# %40==0 sibling's parameters with a +40 top-band perturbation), nearest-
# resized to 9x8 (src = dst * 16 // dim), dHash bytes. Pure integer
# arithmetic end to end — the whole encode->decode->luma->resize->hash
# kernel chain is value-checked.
_PHASH_BYTES_CTE = """
    d AS (SELECT doc_id AS i FROM documents WHERE doc_id % 10 = 0),
    par AS (
      SELECT i,
        CASE WHEN i % 20 = 0 THEN 17 + 3 * ((i // 40) % 97)
             ELSE 17 + 3 * (i % 101) END AS a,
        CASE WHEN i % 20 = 0 THEN 31 + 5 * ((i // 40) % 89)
             ELSE 31 + 5 * (i % 103) END AS b,
        CASE WHEN i % 20 = 0 THEN 11 + 7 * ((i // 40) % 83)
             ELSE 11 + 7 * (i % 107) END AS c,
        (i % 40 = 20) AS twin
      FROM d),
    pix AS MATERIALIZED (
      SELECT i, y, x,
             CASE WHEN twin AND y < 2
                  THEN ((a * ((x * 16) // 9) + b * (2 * y)
                         + c * ((((x * 16) // 9) * 2 * y) % 7)) % 256
                        + 40) % 256
                  ELSE (a * ((x * 16) // 9) + b * (2 * y)
                        + c * ((((x * 16) // 9) * 2 * y) % 7)) % 256 END AS v
      FROM par,
           LATERAL (SELECT unnest(range(8)) AS y) yy,
           LATERAL (SELECT unnest(range(9)) AS x) xx),
    ph_bytes AS MATERIALIZED (
      SELECT p.i, p.y AS byte_idx,
             CAST(sum(CASE WHEN p.v < q.v THEN 1 << p.x ELSE 0 END) AS INT)
               AS byte_val
      FROM pix p
      JOIN pix q ON q.i = p.i AND q.y = p.y AND q.x = p.x + 1
      WHERE p.x < 8
      GROUP BY p.i, p.y)
"""


def _synth_images(docs: DataFrame) -> DataFrame:
    """Apply the deterministic image-synthesis kernel to a frame of
    doc_ids — extracted from ``_phash_images`` (r13) so the SAME
    map-only Arrow kernel runs on batch AND streaming frames
    (``stream_phash_dedup`` synthesizes its arriving images with this
    exact function; semantics unchanged, pure code motion)."""

    def synth(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import encode_png

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 20 == 0:
                    seed = i // 40
                    a, b, c = (
                        17 + 3 * (seed % 97),
                        31 + 5 * (seed % 89),
                        11 + 7 * (seed % 83),
                    )
                    twin = i % 40 == 20
                else:
                    a, b, c = (
                        17 + 3 * (i % 101),
                        31 + 5 * (i % 103),
                        11 + 7 * (i % 107),
                    )
                    twin = False
                y16, x16 = np.mgrid[0:16, 0:16]
                v = (a * x16 + b * y16 + c * ((x16 * y16) % 7)) % 256
                if twin:
                    v[:4, :] = (v[:4, :] + 40) % 256
                rgb = np.repeat(
                    v[:, :, None].astype(np.uint8), 3, axis=2
                )
                ids.append(str(i))
                blobs.append(encode_png(rgb))
            yield pd.DataFrame({"image_id": ids, "content": blobs})

    return docs.mapInPandas(synth, "image_id string, content binary")


def _phash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16x16 gradient PNGs (real pure-Python encode) —
    the python twin of _PHASH_BYTES_CTE's `par`/`pix` arithmetic."""
    from jigsaw_spark.session import widen

    return _synth_images(
        widen(
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id")
        )
    )


def _phash_ham_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every banded dHash candidate pair (shares ≥1 full hash byte of 8)
    with its EXACT Hamming distance: (ia bigint, ib bigint, hamming
    bigint), ia < ib, distinct — the shared prelude of the phash family
    (near-dup ≤6 filter, threshold sweep/purity arms). ONE kernel pass."""
    from jigsaw_spark.multimodal.binary_ops import phash_dhash

    return _ham_pairs_from_bytes(
        phash_dhash(_phash_images(spark, sf_dir)), "image_id"
    )


def _ham_pairs_from_bytes(
    ph: DataFrame, id_col: str, with_byte_match: bool = False
) -> DataFrame:
    """Bucket form over a long-form ``(id, byte_idx, byte_val)`` hash
    relation: the 8 hash bytes pack into one array per image, each byte
    is an LSH band key, candidate pairs explode bucket-locally and the
    Hamming distance folds over the carried arrays (no join back to the
    hashes). Multi-bucket duplicates are identical rows, removed by the
    distinct. Exact for any Hamming threshold ≤7 (pigeonhole). Pair
    order is by the LONG cast of ``id_col``.

    ``with_byte_match=True`` additionally emits ``meq`` — the per-pair
    byte-equality mask (array<boolean>, one per hash byte) — from which
    ANY coarser banding's candidate membership derives as a pure
    expression (a pair collides on a w-byte band iff all w of that
    band's bytes are equal), the mm_phash_band_sweep r14 shape."""
    h64 = ph.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("byte_idx", "byte_val"))),
            lambda s: s["byte_val"],
        ).alias("harr")
    )
    banded = h64.select(
        F.col(id_col).cast("long").alias("_iid"),
        "harr",
        F.posexplode("harr").alias("byte_idx", "byte_val"),
    )
    buckets = (
        banded.groupBy("byte_idx", "byte_val")
        .agg(F.collect_list(F.struct("_iid", "harr")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.harr"),
            F.col("b.harr"),
            lambda u, v: F.bit_count(u.bitwiseXOR(v)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cols = [
        F.col("a._iid").alias("ia"),
        F.col("b._iid").alias("ib"),
        hamming.cast("bigint").alias("hamming"),
    ]
    if with_byte_match:
        cols.append(
            F.zip_with(
                F.col("a.harr"),
                F.col("b.harr"),
                lambda u, v: u == v,
            ).alias("meq")
        )
    return (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a._iid") < F.col("b._iid"))
        .select(*cols)
        .distinct()
    )


@register(
    "mm_image_phash",
    f"""
    WITH {_PHASH_BYTES_CTE}
    SELECT CAST(i AS VARCHAR) AS image_id, CAST(byte_idx AS INT) AS byte_idx,
           byte_val
    FROM ph_bytes
    """,
    "perceptual image hash (dHash) over REAL PNG pixels: decode -> "
    "integer luma -> 9x8 nearest resize -> adjacent-pixel comparison "
    "bits, emitted as 8 one-byte LSH bands per image (long form — a "
    "64-bit hash would overflow signed BIGINT and arrays are banned by "
    "the canon). Every step is integer arithmetic, so the oracle "
    "replays the full encode->decode->hash chain exactly. Map-only "
    "Arrow kernel, ~8 rows per image",
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.multimodal.binary_ops import phash_dhash

    return phash_dhash(_phash_images(spark, sf_dir))


@register(
    "mm_phash_near_dup",
    f"""
    WITH {_PHASH_BYTES_CTE},
    cand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    ham AS (
      SELECT c.ia, c.ib,
             CAST(sum(bit_count(xor(x.byte_val, y.byte_val))) AS BIGINT)
               AS hamming
      FROM cand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2)
    SELECT CAST(ia AS VARCHAR) AS img_a, CAST(ib AS VARCHAR) AS img_b,
           hamming
    FROM ham WHERE hamming <= 6
    """,
    "image near-dup via dHash Hamming banding: candidates must share one "
    "FULL hash byte (pigeonhole: 8 bands, so any pair within Hamming 6 "
    "shares at least two) — a (byte_idx, byte_val) equi-join replaces "
    "the all-pairs scan, then the exact Hamming distance verifies "
    "candidates. The image analog of MinHash-LSH: linear banding join "
    "+ per-candidate verify, no quadratic surface at any corpus size",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucket form (the minhash_lsh_pairs shape, r13 optimization): the
    # self-join formulation evaluated the synth+decode Python pipeline
    # once per join side and twice more re-attaching bytes for the
    # Hamming verify — Spark cannot dedupe identical PythonUDF subplans
    # (measured ~4x the kernel cost). _phash_ham_pairs runs the kernel
    # ONCE; image_id strings are str(doc_id), so the bigint→string cast
    # reproduces them exactly.
    return (
        _phash_ham_pairs(spark, sf_dir)
        .filter(F.col("hamming") <= 6)
        .select(
            F.col("ia").cast("string").alias("img_a"),
            F.col("ib").cast("string").alias("img_b"),
            "hamming",
        )
    )


# ---------------------------------------------------------------------------
# mm_resize_nn
# ---------------------------------------------------------------------------

_RESIZE_SQL = """
    SELECT CAST(doc_id AS VARCHAR) AS image_id,
           CAST(12 AS BIGINT) AS height,
           CAST(16 AS BIGINT) AS width,
           CAST(((1 + doc_id % 5 + 3 + doc_id % 3 - 1) // 2
                 - (1 + doc_id % 5 + 1) // 2 + 1)
              * ((1 + doc_id % 11 + 3 + doc_id % 3 - 1) // 2
                 - (1 + doc_id % 11 + 1) // 2 + 1) AS BIGINT) AS car_px,
           CAST(((12 + doc_id % 7 + 3 + doc_id % 2 - 1) // 2
                 - (12 + doc_id % 7 + 1) // 2 + 1)
              * ((17 + doc_id % 9 + 3 + doc_id % 4 - 1) // 2
                 - (17 + doc_id % 9 + 1) // 2 + 1) AS BIGINT) AS ped_px
    FROM documents WHERE doc_id % 20 = 0
"""


@register(
    "mm_resize_nn",
    _RESIZE_SQL,
    "nearest-neighbor 2x downsample roundtrip: the k6 synthesis "
    "rectangles (color PNG, 24x32) are decoded, NN-resized to 12x16 "
    "(dest pixel (j,i) reads source (2j,2i) — floor(j*src/dst) with "
    "an exact factor of 2), and the per-class pixel counts of the "
    "result are emitted. The oracle computes the resized rectangle "
    "extents in closed form: dest rows hitting [y0, y0+h) are "
    "ceil(y0/2) .. floor((y0+h-1)/2), an exact integer count — so "
    "decode, the index map, and the count must all be right for the "
    "hash to match. The resize member of the multimodal kernel "
    "family (decode/phash/mask ops); frame-sampling for video uses "
    "the same index-map shape on the time axis. Map-only Arrow "
    "kernel, zero shuffle",
)
def mm_resize_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.session import widen

    docs = widen(
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from jigsaw_spark.multimodal.png_codec import decode_png, encode_png

        for pdf in batches:
            out = {"image_id": [], "height": [], "width": [],
                   "car_px": [], "ped_px": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                # the k6 synthesis geometry (queries_mm.k6_deeplab_export)
                arr = np.zeros((24, 32, 3), dtype=np.uint8)
                x0, y0 = 1 + i % 11, 1 + i % 5
                arr[y0 : y0 + 3 + i % 3, x0 : x0 + 3 + i % 3] = (64, 0, 128)
                x1, y1 = 17 + i % 9, 12 + i % 7
                arr[y1 : y1 + 3 + i % 2, x1 : x1 + 3 + i % 4] = (0, 64, 64)
                dec = decode_png(encode_png(arr))  # real codec roundtrip
                small = dec[::2, ::2]  # NN with exact factor 2
                car = int(
                    np.count_nonzero(
                        (small == (64, 0, 128)).all(axis=2)
                    )
                )
                ped = int(
                    np.count_nonzero((small == (0, 64, 64)).all(axis=2))
                )
                out["image_id"].append(str(i))
                out["height"].append(small.shape[0])
                out["width"].append(small.shape[1])
                out["car_px"].append(car)
                out["ped_px"].append(ped)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        kernel,
        "image_id string, height bigint, width bigint, "
        "car_px bigint, ped_px bigint",
    )


# ---------------------------------------------------------------------------
# mm_phash_components
# ---------------------------------------------------------------------------


def _phash_components_sql() -> str:
    return f"""
    WITH RECURSIVE {_PHASH_BYTES_CTE},
    cand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    ham AS (
      SELECT c.ia, c.ib
      FROM cand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2
      HAVING CAST(sum(bit_count(xor(x.byte_val, y.byte_val))) AS BIGINT)
             <= 6),
    edges AS (
      SELECT ia AS u, ib AS v FROM ham
      UNION SELECT ib AS u, ia AS v FROM ham),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS (
      SELECT u AS img, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    universe AS (SELECT DISTINCT i AS img FROM ph_bytes),
    labeled AS (
      SELECT un.img, coalesce(c.component, un.img) AS component
      FROM universe un LEFT JOIN comp c ON un.img = c.img),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS size
      FROM labeled GROUP BY 1)
    SELECT CAST(size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(size * count(*) AS BIGINT) AS n_images
    FROM sizes GROUP BY size
"""


@register(
    "mm_phash_components",
    _phash_components_sql(),
    "image duplicate-cluster economics: connected components (min "
    "reachable id) over mm_phash_near_dup's dHash Hamming<=6 banded "
    "pairs, singletons included, as a (cluster_size, n_clusters, "
    "n_images) histogram — dedup_components/dedup_end_to_end's "
    "accounting applied to the IMAGE arm (verdict r10 #4: the phash "
    "band join has been first-class since r6; this adds the cluster "
    "ledger a dedup pass acts on — keepers = n_clusters, dropped = "
    "n_images - n_clusters). Shape: pigeonhole (byte_idx, byte_val) "
    "band join (never all-pairs) -> exact Hamming verify -> the "
    "production connected_components operator (single-task union-find "
    "under the edge threshold, pointer-jumping label propagation "
    "above) -> two tiny hash-aggs",
)
def mm_phash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import connected_components

    pairs = mm_phash_near_dup(spark, sf_dir).select(
        F.col("img_a").cast("bigint").alias("doc_a"),
        F.col("img_b").cast("bigint").alias("doc_b"),
    )
    comp = connected_components(pairs)
    # the id universe IS the synth filter: _synth_images emits exactly
    # one image per filtered doc row (image_id = str(doc_id)) and
    # phash_dhash never drops a row, so re-running the
    # synth→encode→decode→dHash kernel just to enumerate ids is a full
    # second pass over the image corpus for a projection of its input
    universe = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").cast("bigint").alias("img"))
    )
    labeled = (
        universe.join(
            comp.select(
                F.col("doc_id").alias("img"), F.col("component")
            ),
            "img",
            "left",
        )
        .select(
            "img",
            F.coalesce("component", F.col("img")).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
    ).select(
        F.col("size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        (F.col("size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_images"),
    )


# ---------------------------------------------------------------------------
# mm_phash_cluster_sources
# ---------------------------------------------------------------------------


def _phash_cluster_sources_sql() -> str:
    return f"""
    WITH RECURSIVE {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    mpairs AS MATERIALIZED (
      SELECT ia AS doc_a, ib AS doc_b FROM (
        SELECT c.ia, c.ib,
               CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
                 AS BIGINT) AS hamming
        FROM mcand c
        JOIN ph_bytes x ON x.i = c.ia
        JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
        GROUP BY 1, 2) h
      WHERE h.hamming <= 6),
    iedges AS (
      SELECT doc_a AS u, doc_b AS v FROM mpairs
      UNION SELECT doc_b AS u, doc_a AS v FROM mpairs),
    reach(u, v) AS (
      SELECT u, v FROM iedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN iedges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS (
      SELECT u AS img, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    universe AS (SELECT DISTINCT i AS img FROM ph_bytes),
    lab AS (
      SELECT un.img, coalesce(c.component, un.img) AS component,
             d.source
      FROM universe un
      LEFT JOIN comp c ON un.img = c.img
      JOIN documents d ON un.img = d.doc_id),
    per_cs AS (
      SELECT component, source, CAST(count(*) AS BIGINT) AS c
      FROM lab GROUP BY 1, 2),
    cl AS MATERIALIZED (
      SELECT component,
             CAST(sum(c) AS BIGINT) AS sz,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(max(c) AS BIGINT) AS maj
      FROM per_cs GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_multi_source,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS multi_milli,
           CAST(sum(maj) * 1000 // sum(sz) AS BIGINT)
             AS majority_mass_milli
    FROM cl GROUP BY sz
"""


@register(
    "mm_phash_cluster_sources",
    _phash_cluster_sources_sql(),
    "source purity of image near-dup clusters — the image twin of "
    "dedup_cluster_purity's language view: per cluster size over the "
    "image universe (dHash components at Hamming <= 6, singletons "
    "kept), how many clusters span MULTIPLE sources (syndicated "
    "imagery — the same picture served by different sources, the "
    "cross-source dedup case) and the majority-source mass share. "
    "Shape: the certified banded dHash pairs + size-adaptive "
    "components, one source join against the documents dim, two "
    "hash-agg rollups (cluster then size histogram)",
)
def mm_phash_cluster_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        mm_phash_near_dup(spark, sf_dir)
        .select(
            F.col("img_a").cast("bigint").alias("doc_a"),
            F.col("img_b").cast("bigint").alias("doc_b"),
        )
        .localCheckpoint()
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("img"), F.col("component").alias("c0")
    )
    # the id universe IS the synth filter (one image per doc_id % 10 == 0
    # row, image_id = str(doc_id); phash_dhash never drops a row) — no
    # second synth→encode→decode→dHash pass just to enumerate ids
    universe = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("img")
    )
    lab = (
        universe.join(comp, "img", "left")
        .join(
            docs.select(F.col("doc_id").alias("img"), "source"), "img"
        )
        .select(
            F.coalesce("c0", F.col("img")).alias("component"),
            "source",
        )
    )
    per_cs = lab.groupBy("component", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cl = per_cs.groupBy("component").agg(
        F.sum("c").cast("bigint").alias("sz"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.max("c").cast("bigint").alias("maj"),
    )
    return cl.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_source"),
        F.sum("maj").cast("bigint").alias("maj_mass"),
        F.sum("sz").cast("bigint").alias("tot_mass"),
    ).select(
        F.col("sz").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_multi_source",
        F.expr(
            "CAST(n_multi_source * 1000 div n_clusters AS BIGINT)"
        ).alias("multi_milli"),
        F.expr(
            "CAST(maj_mass * 1000 div tot_mass AS BIGINT)"
        ).alias("majority_mass_milli"),
    )


_PHASH_THRESHOLDS = (0, 2, 4, 6)


# ---------------------------------------------------------------------------
# mm_phash_threshold_sweep
# ---------------------------------------------------------------------------


def _phash_sweep_sql() -> str:
    thr = ", ".join(str(t) for t in _PHASH_THRESHOLDS)
    return f"""
    WITH {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    ham AS MATERIALIZED (
      SELECT c.ia, c.ib,
             CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
               AS BIGINT) AS hamming
      FROM mcand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2),
    universe AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_images
                 FROM ph_bytes),
    thr AS (SELECT unnest([{thr}]) AS threshold),
    per AS (
      SELECT t.threshold,
             CAST(count(h.ia) AS BIGINT) AS n_pairs
      FROM thr t LEFT JOIN ham h ON h.hamming <= t.threshold
      GROUP BY 1),
    cov AS (
      SELECT t.threshold,
             CAST(count(DISTINCT d.i) AS BIGINT) AS n_covered
      FROM thr t
      LEFT JOIN (SELECT ia AS i, hamming FROM ham
                 UNION ALL SELECT ib AS i, hamming FROM ham) d
        ON d.hamming <= t.threshold
      GROUP BY 1)
    SELECT CAST(p.threshold AS INT) AS threshold,
           p.n_pairs,
           c.n_covered,
           CAST(c.n_covered * 1000 // u.n_images AS BIGINT)
             AS covered_milli
    FROM per p
    JOIN cov c ON p.threshold = c.threshold
    CROSS JOIN universe u
"""


@register(
    "mm_phash_threshold_sweep",
    _phash_sweep_sql(),
    "image near-dup threshold sweep — the dedup_band_sweep of the "
    "image arm: for dHash Hamming thresholds {0, 2, 4, 6}, the pairs "
    "admitted, distinct images covered, and the covered share of the "
    "image universe. Every threshold <= 7 is EXACT under the 8-band "
    "pigeonhole (a pair within Hamming 7 leaves one full hash byte "
    "equal, so the byte-equality candidate join misses nothing), so "
    "the sweep prices the threshold choice before committing the "
    "image dedup tier. Shape: the banded candidate join computed "
    "ONCE, one hamming hash-agg, a 4-row threshold dim rollup — "
    "never all-pairs; thresholds admitting zero pairs count 0 "
    "(count over the joined key, not count(*))",
)
def mm_phash_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # bucket form via the shared _phash_ham_pairs prelude (the
    # mm_phash_near_dup r13 shape): the old self-join formulation
    # evaluated the synth+decode kernel once per join side and twice
    # more re-attaching bytes for the Hamming agg — 4 kernel passes.
    # The prelude runs it ONCE; same (ia, ib, hamming) set.
    ham = _phash_ham_pairs(spark, sf_dir).localCheckpoint()
    # the id universe IS the synth filter (one image per doc_id % 10 ==
    # 0 row; phash_dhash never drops a row) — no kernel pass to count it
    universe = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_images"))
    )
    thr = F.broadcast(
        spark.createDataFrame(
            [(t,) for t in _PHASH_THRESHOLDS], "threshold int"
        )
    )
    per = (
        thr.join(ham, ham["hamming"] <= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.count(ham["ia"]).cast("bigint").alias("n_pairs"))
    )
    dsides = ham.select(
        F.col("ia").alias("i"), "hamming"
    ).unionByName(ham.select(F.col("ib").alias("i"), "hamming"))
    cov = (
        thr.join(dsides, dsides["hamming"] <= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(F.countDistinct("i").cast("bigint").alias("n_covered"))
    )
    return (
        per.join(cov, "threshold")
        .crossJoin(F.broadcast(universe))
        .select(
            F.col("threshold").cast("int").alias("threshold"),
            "n_pairs",
            "n_covered",
            F.expr(
                "CAST(n_covered * 1000 div n_images AS BIGINT)"
            ).alias("covered_milli"),
        )
    )


_PURITY_THRESHOLDS = (0, 2, 4, 6)


# ---------------------------------------------------------------------------
# mm_phash_threshold_purity
# ---------------------------------------------------------------------------


def _threshold_purity_sql() -> str:
    arms = []
    labs = []
    for t in _PURITY_THRESHOLDS:
        arms.append(f"""
    edges_{t} AS (
      SELECT ia AS u, ib AS v FROM ham WHERE hamming <= {t}
      UNION SELECT ib, ia FROM ham WHERE hamming <= {t}),
    reach_{t}(u, v) AS (
      SELECT u, v FROM edges_{t}
      UNION
      SELECT r.u, e.v FROM reach_{t} r JOIN edges_{t} e ON r.v = e.u
      WHERE e.v <> r.u),
    comp_{t} AS (
      SELECT u AS img, least(u, min(v)) AS component
      FROM reach_{t} GROUP BY u)""")
        labs.append(f"""
      SELECT {t} AS threshold,
             coalesce(c.component, un.img) AS component, d.source
      FROM universe un
      LEFT JOIN comp_{t} c ON un.img = c.img
      JOIN documents d ON un.img = d.doc_id""")
    return f"""
    WITH RECURSIVE {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    ham AS MATERIALIZED (
      SELECT c.ia, c.ib,
             CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
               AS BIGINT) AS hamming
      FROM mcand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2),
    universe AS (SELECT DISTINCT i AS img FROM ph_bytes),
    {','.join(arms)},
    lab AS MATERIALIZED ({' UNION ALL '.join(labs)}),
    per_cs AS (
      SELECT threshold, component, source,
             CAST(count(*) AS BIGINT) AS c
      FROM lab GROUP BY 1, 2, 3),
    cl AS (
      SELECT threshold, component,
             CAST(sum(c) AS BIGINT) AS sz,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(max(c) AS BIGINT) AS maj
      FROM per_cs GROUP BY 1, 2)
    SELECT CAST(threshold AS INT) AS threshold,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_multi_source,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS multi_milli,
           CAST(sum(maj) * 1000 // sum(sz) AS BIGINT)
             AS majority_mass_milli
    FROM cl GROUP BY threshold
"""


@register(
    "mm_phash_threshold_purity",
    _threshold_purity_sql(),
    "the r70 threshold sweep JOINED with mm_phash_cluster_sources' "
    "purity view: per dHash Hamming threshold {0, 2, 4, 6}, the image "
    "cluster count (singletons kept), multi-source cluster count and "
    "share, and the majority-source mass — the table that prices a "
    "threshold not by pair volume (the sweep) but by what it does to "
    "cluster PURITY: the threshold where clusters start fusing across "
    "sources is where image dedup stops removing syndication and "
    "starts merging distinct assets. Shape: the banded candidate join "
    "+ hamming agg computed ONCE, per-arm size-adaptive components "
    "over the filtered pair list, one source join against the "
    "documents dim, bounded 4-row output",
)
def mm_phash_threshold_purity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    # shared bucket-form prelude (ONE kernel pass — the old self-join
    # formulation ran the synth+decode kernel 4x; see mm_phash_near_dup)
    ham = _phash_ham_pairs(spark, sf_dir).localCheckpoint()
    # the id universe IS the synth filter (one image per doc_id % 10 ==
    # 0 row; phash_dhash never drops a row) — no kernel pass to list it
    universe = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("img"), "source")
        .localCheckpoint()
    )
    out = []
    for t in _PURITY_THRESHOLDS:
        pairs = ham.filter(F.col("hamming") <= t).select(
            F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b")
        )
        comp = connected_components(pairs).select(
            F.col("doc_id").alias("img"),
            F.col("component").alias("c0"),
        )
        lab = universe.join(comp, "img", "left").select(
            F.coalesce("c0", F.col("img")).alias("component"),
            "source",
        )
        per_cs = lab.groupBy("component", "source").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        cl = per_cs.groupBy("component").agg(
            F.sum("c").cast("bigint").alias("sz"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.max("c").cast("bigint").alias("maj"),
        )
        out.append(
            cl.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
                F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_multi_source"),
                F.sum("maj").cast("bigint").alias("maj_mass"),
                F.sum("sz").cast("bigint").alias("tot_mass"),
            ).select(
                F.lit(t).cast("int").alias("threshold"),
                "n_clusters",
                "n_multi_source",
                F.expr(
                    "CAST(n_multi_source * 1000 div n_clusters"
                    " AS BIGINT)"
                ).alias("multi_milli"),
                F.expr(
                    "CAST(maj_mass * 1000 div tot_mass AS BIGINT)"
                ).alias("majority_mass_milli"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


_PHASH_BANDS = (8, 4, 2)


# ---------------------------------------------------------------------------
# mm_phash_band_sweep
# ---------------------------------------------------------------------------


def _phash_band_sweep_sql() -> str:
    cfg = []
    for nb in _PHASH_BANDS:
        w = 8 // nb  # bytes per band
        cfg.append(f"""
    sig_{nb} AS (
      SELECT i, byte_idx // {w} AS band,
             CAST(sum(byte_val
               * power(256, {w - 1} - byte_idx % {w})) AS BIGINT)
               AS bval
      FROM ph_bytes GROUP BY 1, 2),
    cand_{nb} AS MATERIALIZED (
      SELECT DISTINCT a.i AS ia, b.i AS ib
      FROM sig_{nb} a
      JOIN sig_{nb} b ON a.band = b.band AND a.bval = b.bval
                     AND a.i < b.i),
    row_{nb} AS (
      SELECT {nb} AS n_bands,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_{nb})
               AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT)
              FROM cand_{nb} c JOIN ham h
                ON c.ia = h.ia AND c.ib = h.ib
              WHERE h.hamming <= 6) AS n_verified)""")
    rows = " UNION ALL ".join(
        f"SELECT * FROM row_{nb}" for nb in _PHASH_BANDS
    )
    return f"""
    WITH {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    ham AS MATERIALIZED (
      SELECT c.ia, c.ib,
             CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
               AS BIGINT) AS hamming
      FROM mcand c
      JOIN ph_bytes x ON x.i = c.ia
      JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
      GROUP BY 1, 2),
    truep AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true FROM ham
      WHERE hamming <= 6),
    {','.join(cfg)}
    SELECT CAST(r.n_bands AS INT) AS n_bands,
           r.n_candidates,
           r.n_verified,
           CAST(CASE WHEN t.n_true = 0 THEN 0
             ELSE r.n_verified * 1000 // t.n_true END AS BIGINT)
             AS recall_milli,
           CAST(CASE WHEN r.n_candidates = 0 THEN 0
             ELSE r.n_verified * 1000 // r.n_candidates END AS BIGINT)
             AS precision_milli
    FROM ({rows}) r CROSS JOIN truep t
"""


@register(
    "mm_phash_band_sweep",
    _phash_band_sweep_sql(),
    "dHash banding granularity — the same 64-bit hash banded three "
    "ways (8 bands x 8 bits, 4 x 16, 2 x 32): candidate pairs from "
    "the band-equality join, Hamming-verified (<= 6) pairs among "
    "them, recall vs the complete 8-band pair set, and precision. "
    "The image twin of dedup_band_sweep's S-curve table: wider "
    "bands shrink the candidate shuffle (the 100 TB cost) but the "
    "pigeonhole guarantee decays — 4 bands only guarantee Hamming "
    "<= 3, 2 bands <= 1 — and the measured recall column prices "
    "exactly that. Shape: hash bytes computed ONCE, one bucket "
    "shuffle for the complete 8-band pair set, every coarser arm's "
    "membership a pure expression over the per-pair byte-equality "
    "mask (nested candidate sets), ONE aggregate; bounded 3-row "
    "output",
)
def mm_phash_band_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.multimodal.binary_ops import phash_dhash

    ph = phash_dhash(_phash_images(spark, sf_dir)).select(
        F.col("image_id").cast("bigint").alias("i"),
        "byte_idx",
        "byte_val",
    )
    # ONE relation serves every arm (r14): coarser bandings' candidate
    # sets NEST inside the 8-band set (a pair agreeing on a w-byte band
    # agrees on each of its bytes), so per-arm membership is a pure
    # expression over the per-pair byte-equality mask — no per-arm sig
    # agg, bucket shuffle, candidate checkpoint or semi-join. The whole
    # sweep is one kernel pass + one bucket shuffle + ONE aggregate.
    ham = _ham_pairs_from_bytes(ph, "i", with_byte_match=True)

    def _in_band(nb: int):
        w = 8 // nb
        m = None
        for g in range(nb):
            band_ok = F.forall(
                F.slice(F.col("meq"), g * w + 1, w), lambda x: x
            )
            m = band_ok if m is None else (m | band_ok)
        return m

    row = ham.agg(
        F.sum(F.when(F.col("hamming") <= 6, 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
        *[
            agg
            for nb in _PHASH_BANDS
            for agg in (
                F.sum(F.when(_in_band(nb), 1).otherwise(0))
                .cast("bigint")
                .alias(f"c{nb}"),
                F.sum(
                    F.when(
                        _in_band(nb) & (F.col("hamming") <= 6), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"v{nb}"),
            )
        ],
    )
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nb).cast("int").alias("n_bands"),
                        F.col(f"c{nb}").alias("n_candidates"),
                        F.col(f"v{nb}").alias("n_verified"),
                        F.when(
                            F.col("n_true") == 0, F.lit(0).cast("bigint")
                        )
                        .otherwise(
                            F.expr(f"v{nb} * 1000 div n_true")
                        )
                        .alias("recall_milli"),
                        F.when(
                            F.col(f"c{nb}") == 0, F.lit(0).cast("bigint")
                        )
                        .otherwise(
                            F.expr(f"v{nb} * 1000 div c{nb}")
                        )
                        .alias("precision_milli"),
                    )
                    for nb in _PHASH_BANDS
                ]
            )
        ).alias("r")
    ).select(
        "r.n_bands",
        "r.n_candidates",
        "r.n_verified",
        "r.recall_milli",
        "r.precision_milli",
    )
