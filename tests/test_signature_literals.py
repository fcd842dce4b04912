"""Near-dup signature builders: exactness and build cost.

``dedup.simhash64`` is one vote fold over the token hashes; it must equal
the 64-filter spelling it replaced (kept below as the reference) bit for
bit. ``vectors.double_array_lit`` ships a double array or matrix as one
JSON literal; it must equal ``F.lit(list)`` bit for bit. Both builders
must cost a fixed number of Python->JVM round trips, whatever the width.
"""

from __future__ import annotations

import os
import struct
import threading
from contextlib import contextmanager

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from py4j import protocol as proto
from pyspark.sql import functions as F


def _simhash64_reference(text_col):
    """The 64-filter spelling: bit p is 1 iff more than half the tokens'
    xxhash64 set bit p."""
    toks = F.split(F.trim(text_col), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(hashes)

    def _bit_set(p: int):
        mask = F.shiftleft(F.lit(1).cast("long"), p)
        return lambda h: h.bitwiseAND(mask) != 0

    out = None
    for p in range(64):
        bit = F.shiftleft(
            (F.size(F.filter(hashes, _bit_set(p))) * 2 > n).cast("long"), p
        )
        out = bit if out is None else out.bitwiseOR(bit)
    return out


@pytest.fixture(scope="module")
def signatures():
    """(simhash64, reference) over column ``t``, built once: the reference
    costs ~7k JVM calls to build, and a Column is reusable."""
    from m12_kafkastreams_python_azure_spark.operators.dedup import simhash64

    t = F.col("t")
    return simhash64(t).alias("s"), _simhash64_reference(t).alias("ref")


def _texts(spark, texts):
    # one partition: every task deserializes the 64-filter reference tree
    return spark.createDataFrame([(t,) for t in texts], "t string").coalesce(1)


def _mismatches(df, signatures) -> list:
    # compared on the driver: a Spark-side filter on s <=> ref would
    # inline both signature trees into the filter and build them twice
    return [r for r in df.select("t", *signatures).collect() if r.s != r.ref]


EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n ",
    "word",
    "a\tb\nc  d\r\ne",
    "naïve café 日本語 テキスト ü",
    " ".join(f"tok{i % 700}" for i in range(2000)),
]


def test_simhash64_equals_reference_on_edge_texts(spark, signatures):
    df = _texts(spark, EDGE_TEXTS)
    assert _mismatches(df, signatures) == []
    rows = df.select("t", signatures[0]).collect()
    assert [r.s is None for r in rows] == [t is None for t in EDGE_TEXTS]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdé日 \t\n", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_simhash64_equals_reference_on_random_texts(spark, signatures, texts):
    df = _texts(spark, texts)
    assert _mismatches(df, signatures) == []


def test_simhash64_equals_reference_on_documents(spark, sf_dir, signatures):
    from m12_kafkastreams_python_azure_spark.sources.readers import load_table

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip("sf0.01 test data not generated")
    docs = load_table(spark, sf001, "documents").select(F.col("text").alias("t"))
    assert _mismatches(docs, signatures) == []


SPECIAL_DOUBLES = [
    -0.0,
    5e-324,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    0.1,
    1 / 3,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(values) -> list:
    if isinstance(values[0], list):
        return [_bits(row) for row in values]
    return [struct.pack(">d", x) for x in values]


def test_double_array_lit_matches_f_lit_bit_for_bit(spark):
    from m12_kafkastreams_python_azure_spark.functions.vectors import (
        double_array_lit,
    )

    flat = SPECIAL_DOUBLES
    nested = [SPECIAL_DOUBLES[:3], SPECIAL_DOUBLES[3:6], SPECIAL_DOUBLES[6:]]
    row = spark.range(1).select(
        F.lit(flat).alias("lit_flat"),
        double_array_lit(flat).alias("json_flat"),
        F.lit(nested).alias("lit_nested"),
        double_array_lit(nested).alias("json_nested"),
    ).first()
    assert _bits(row.json_flat) == _bits(row.lit_flat) == _bits(flat)
    assert _bits(row.json_nested) == _bits(row.lit_nested) == _bits(nested)


def test_double_array_lit_rejects_ragged_rows():
    from m12_kafkastreams_python_azure_spark.functions.vectors import (
        double_array_lit,
    )

    with pytest.raises(ValueError):
        double_array_lit([[1.0, 2.0], [3.0]])
    with pytest.raises(ValueError):
        double_array_lit([[1.0, 2.0], 3.0])


@contextmanager
def _jvm_calls(spark):
    """Counts the py4j commands this thread sends while active. Releases
    of garbage-collected Java object handles are left out: when they are
    sent follows Python's GC, not the code measured."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command
    me = threading.get_ident()
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(release):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


def test_signature_builders_take_a_fixed_number_of_jvm_calls(spark):
    from m12_kafkastreams_python_azure_spark.operators.dedup import simhash64
    from m12_kafkastreams_python_azure_spark.operators.similarity import (
        lsh_sign_bits,
    )

    counts = {}
    for name, build in [
        ("simhash", lambda: simhash64(F.col("t"))),
        ("lsh32", lambda: lsh_sign_bits(F.col("v"), 64, 32)),
        ("lsh64", lambda: lsh_sign_bits(F.col("v"), 64, 64)),
    ]:
        build()  # first use may resolve JVM classes once
        with _jvm_calls(spark) as sent:
            build()
        counts[name] = sent[0]
    # the 64-filter simhash and the per-element F.lit(planes) spelling sent
    # ~7k, ~8.6k (32 planes) and ~17k (64 planes) commands
    assert counts["lsh32"] == counts["lsh64"], counts
    assert max(counts.values()) < 500, counts


def test_embedding_lsh_plan_folds_the_planes_literal(spark, sf_dir):
    from m12_kafkastreams_python_azure_spark.operators import api
    from m12_kafkastreams_python_azure_spark.operators.similarity import (
        lsh_sign_bits,
    )
    from m12_kafkastreams_python_azure_spark.sources.readers import (
        load_table,
        release_parallel_caches,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bits = emb.select(lsh_sign_bits(F.col("embedding"), 64, 32).alias("b"))
    pairs = api.embedding_near_dup_lsh(emb)
    try:
        for df in (bits, pairs):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "from_json" not in plan and "JsonToStructs" not in plan
    finally:
        release_parallel_caches()
