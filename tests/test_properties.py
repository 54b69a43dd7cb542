"""Property-based tests (hypothesis) over the engine's pure-Python kernels
and the cross-strategy invariants of the distributed operators.

The pure kernels (TFRecord framing, WAV synthesis/parse, crc32c) get wide
randomized coverage for free; Spark-backed properties run a handful of
examples (each example is a cluster job) and pin `deadline=None`.
"""

from __future__ import annotations

import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# TFRecord framing (pure python): frame → parse roundtrip, CRC integrity
# ---------------------------------------------------------------------------


@given(st.binary(min_size=0, max_size=4096))
def test_tfrecord_frame_roundtrip(payload):
    from jigsaw_spark.sources.tfrecord import frame_record, masked_crc

    framed = frame_record(payload)
    (length,) = struct.unpack("<Q", framed[:8])
    (len_crc,) = struct.unpack("<I", framed[8:12])
    assert length == len(payload)
    assert len_crc == masked_crc(framed[:8])
    data = framed[12 : 12 + length]
    (data_crc,) = struct.unpack("<I", framed[12 + length : 16 + length])
    assert data == payload and data_crc == masked_crc(payload)
    assert len(framed) == 16 + length


@given(st.dictionaries(
    st.text(alphabet="abcdefgh_", min_size=1, max_size=12),
    st.one_of(
        st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=8),
        st.lists(st.binary(max_size=64), max_size=4),
    ),
    max_size=6,
))
def test_tfexample_encode_is_deterministic_and_parses(features):
    """Encoded protobuf is byte-stable and every field tag is well-formed
    (varint-walkable to EOF)."""
    from jigsaw_spark.sources.tfrecord import encode_example

    a = encode_example(features)
    b = encode_example(features)
    assert a == b
    # walk the outer message: sequence of (tag, len, payload)
    pos = 0
    while pos < len(a):
        tag = a[pos]
        assert tag & 0x7 == 2  # every outer field is length-delimited
        pos += 1
        shift, ln = 0, 0
        while True:
            byte = a[pos]
            ln |= (byte & 0x7F) << shift
            pos += 1
            if not byte & 0x80:
                break
            shift += 7
        pos += ln
    assert pos == len(a)


# ---------------------------------------------------------------------------
# WAV synthesis/parse (pure python): header roundtrip at arbitrary params
# ---------------------------------------------------------------------------


@settings(deadline=None)  # first example pays the numpy module import
@given(
    st.binary(min_size=0, max_size=512),
    st.integers(min_value=1000, max_value=96000),
    st.integers(min_value=1, max_value=8192),
)
def test_wav_synth_parse_roundtrip(payload, rate, n_samples):
    from jigsaw_spark.multimodal.audio_ops import parse_wav_header, synthesize_wav

    wav = synthesize_wav(payload, sample_rate=rate, n_samples=n_samples)
    meta = parse_wav_header(wav)
    assert meta is not None
    assert meta["channels"] == 1
    assert meta["sample_rate"] == rate
    assert meta["bits"] == 16
    assert meta["n_samples"] == n_samples


@given(st.binary(min_size=0, max_size=64))
def test_wav_parse_rejects_garbage(junk):
    from jigsaw_spark.multimodal.audio_ops import parse_wav_header

    # junk that doesn't start with a full RIFF/WAVE envelope must not parse
    if not (len(junk) >= 44 and junk[:4] == b"RIFF" and junk[8:12] == b"WAVE"):
        assert parse_wav_header(junk) is None


# ---------------------------------------------------------------------------
# Connected components: the two physical strategies agree on random graphs
# ---------------------------------------------------------------------------


def _closure(edges):
    """Reference union-find (independent implementation) → {node: min_id}."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(u != v for u, v in es))
)
def test_components_strategies_agree_on_random_graphs(spark, edge_list):
    from jigsaw_spark.operators.dedup import connected_components

    edge_list = [(u, v) for u, v in edge_list if u != v]
    pairs = spark.createDataFrame(edge_list, "doc_a bigint, doc_b bigint")
    want = _closure(edge_list)
    for strategy in ("local", "distributed"):
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs, strategy=strategy).collect()
        }
        assert got == want, strategy


@given(
    st.lists(
        st.datetimes(
            min_value=__import__("datetime").datetime(1970, 1, 1),
            max_value=__import__("datetime").datetime(2100, 1, 1),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=50, suppress_health_check=[HealthCheck.too_slow])
def test_tfrecord_datetime_encoding_matches_epoch_micros(values):
    """Temporal features encode exactly as their epoch-micros int64s —
    truncated to whole micros, order preserved, list shape intact."""
    import datetime as dt

    from jigsaw_spark.sources.tfrecord import encode_example

    epoch = dt.datetime(1970, 1, 1)
    micros = [
        ((v - epoch).days * 86_400 + (v - epoch).seconds) * 1_000_000
        + (v - epoch).microseconds
        for v in values
    ]
    assert encode_example({"t": values}) == encode_example({"t": micros})


@settings(max_examples=10, deadline=None)
@given(
    cents=st.lists(st.integers(-10**7, 10**7), min_size=1, max_size=60),
    parts=st.integers(1, 8),
)
def test_dsum_equals_exact_decimal_sum(spark, cents, parts):
    """dsum(dec2(x)) must equal the exact Decimal sum of the 2-decimal
    inputs for ANY partitioning — the money-aggregation contract."""
    from decimal import Decimal

    from jigsaw_spark.plans.registry import dec2, dsum

    vals = [c / 100.0 for c in cents]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(parts)
    got = df.agg(dsum(dec2("x")).alias("s")).collect()[0]["s"]
    exact = float(sum(Decimal(c) for c in cents) / 100)
    assert got == exact


@given(
    st.dictionaries(
        st.text(alphabet="abcdefgh_", min_size=1, max_size=8),
        st.one_of(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.lists(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                min_size=1,
                max_size=5,
            ),
            st.text(max_size=20),
            st.binary(max_size=20),
            st.lists(st.binary(max_size=8), min_size=1, max_size=4),
        ),
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_tfexample_encode_decode_roundtrip(features):
    """decode_example(encode_example(x)) recovers every feature exactly
    (int64 incl. negatives/extremes via two's-complement varints; strings
    come back as their utf-8 bytes — TFExample has no string kind)."""
    from jigsaw_spark.sources.tfrecord import decode_example, encode_example

    decoded = decode_example(encode_example(features))
    for name, value in features.items():
        vals = value if isinstance(value, list) else [value]
        if not vals:
            continue
        kind, got = decoded[name]
        if isinstance(vals[0], str):
            assert got == [v.encode() for v in vals]
        elif isinstance(vals[0], bytes):
            assert got == vals
        else:
            assert got == vals and kind == "int64"


@settings(max_examples=6, deadline=None)
@given(
    parts=st.sampled_from([1, 3, 13]),
    seed=st.integers(0, 10**6),
)
def test_round4_ops_partitioning_invariant(spark, parts, seed):
    """dedup_lines / sq8_quantize / hash_features must produce identical
    results under any input partitioning (the AQE/speculation-safety
    contract every operator in this repo carries)."""
    import random

    from pyspark.sql import functions as F

    from jigsaw_spark.operators.dedup import dedup_lines
    from jigsaw_spark.operators.ml import hash_features
    from jigsaw_spark.operators.similarity import sq8_quantize

    rng = random.Random(seed)
    words = ["alpha", "beta", "gamma", "delta", "shared", "line"]
    docs = [
        (
            i,
            "\n".join(
                " ".join(rng.choices(words, k=4))
                for _ in range(rng.randint(1, 5))
            ),
        )
        for i in range(24)
    ]
    df1 = spark.createDataFrame(docs, "doc_id long, text string")
    dfp = df1.repartition(parts)

    def lines_result(d):
        return sorted(
            (r["doc_id"], r["clean_text"], r["n_lines_kept"])
            for r in dedup_lines(d, "doc_id", "text").collect()
        )

    assert lines_result(df1) == lines_result(dfp)

    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(6)])
            for i in range(30)
        ],
        "vec_id long, embedding array<float>",
    )

    def sq8_result(d):
        return sorted(
            (r["vec_id"], tuple(r["codes"]), r["max_abs_err"])
            for r in sq8_quantize(d).collect()
        )

    assert sq8_result(emb) == sq8_result(emb.repartition(parts))

    cat = df1.select("doc_id", (F.col("doc_id") % 3).cast("string").alias("c"))

    def fh_result(d):
        return sorted(
            (r["doc_id"], tuple(r["features"]))
            for r in hash_features(d, ["c"], dims=8).collect()
        )

    assert fh_result(cat) == fh_result(cat.repartition(parts))
