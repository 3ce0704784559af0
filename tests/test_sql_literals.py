"""Request values reach SQL text only through ``schemas.sql_literal``: they
round-trip byte for byte through every REST path that builds a plan from
them, an injected predicate matches nothing, and the literal keeps the
float semantics of ``F.lit(v).cast(t)``."""

from __future__ import annotations

import math
import re
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType

from thewhisperdb_spark import api
from thewhisperdb_spark.crud import GraphEngine
from thewhisperdb_spark.schemas import sql_literal

NASTY = ["it's", "back\\slash", "back`tick", "${x}", "a -- comment",
         "end */ here", "new\nline", "ünïcødé ✓ 日本 😀", "x" * 10_000]
INJECTED = "x' OR '1'='1"


@pytest.fixture()
def engine(spark):
    e = GraphEngine(spark)
    api.create_node(e, {"title": "plain", "author": "ada", "subject": "cs",
                        "tags": ["spark"]})
    return e


def test_literal_text_carries_no_request_byte():
    shape = re.compile(r"from_json\(cast\(unbase64\('[A-Za-z0-9+/=]*'\) as "
                       r"string\), 'v string', map\('mode','FAILFAST'\)\)\.v")
    for v in NASTY + [INJECTED]:
        assert shape.fullmatch(sql_literal(v))
    assert sql_literal(-(1 << 63), LongType()) == \
        "CAST(-9223372036854775808 AS bigint)"


@pytest.mark.parametrize("value", NASTY)
def test_values_round_trip_through_every_request_path(engine, value):
    code, env = api.dispatch(engine, "POST", "/api/nodes", body={
        "title": value, "author": value, "subject": value, "tags": [value]})
    assert code == 201
    nid = env["nodeId"]
    node = api.get_node(engine, nid)["node"]
    assert (node["title"], node["author"], node["subject"], node["tags"]) == \
        (value, value, value, [value])
    code, _ = api.dispatch(engine, "PUT", f"/api/nodes/{nid}",
                           body={"description": value, "title": value + "!"})
    assert code == 200
    node = api.get_node(engine, nid)["node"]
    assert (node["description"], node["title"]) == (value, value + "!")
    for filters in ({"subject": value}, {"author": value}, {"tag": value},
                    {"title": value}):
        code, env = api.dispatch(engine, "GET", "/api/nodes", query=filters)
        assert [n["id"] for n in env["nodes"]] == [nid], filters
        assert env["nodes"][0]["title"] == value + "!"
        code, env = api.dispatch(engine, "GET", "/api/nodes/count",
                                 query=filters)
        assert env["count"] == 1, filters
    assert [n["id"] for n in api.tag_nodes(engine, value)["nodes"]] == [nid]
    # generate-tags stores the tagger's tags, banks them and links by them
    env = api.generate_node_tags(engine, 1, tagger=lambda _: [[value]])
    assert env["tags"] == [value] and env["newTagsAdded"] == [value]
    assert env["linkedNodes"] == [nid]
    assert api.get_node(engine, 1)["node"]["tags"] == [value]
    assert value in api.tag_bank(engine)["tagBank"]


def test_injected_filter_matches_nothing(engine):
    for key in ("subject", "author", "title", "tag", "course"):
        code, env = api.dispatch(engine, "GET", "/api/nodes",
                                 query={key: INJECTED})
        assert (code, env["count"]) == (200, 0), key
        code, env = api.dispatch(engine, "GET", "/api/nodes/count",
                                 query={key: INJECTED})
        assert (code, env["count"]) == (200, 0), key
    assert api.tag_nodes(engine, INJECTED)["count"] == 0
    assert api.dispatch(engine, "GET", "/api/nodes")[1]["count"] == 1


def _bits(values, fmt):
    return [None if v is None else struct.pack(fmt, v) for v in values]


@pytest.mark.parametrize("dtype,fmt", [(FloatType(), "<f"),
                                       (DoubleType(), "<d")])
def test_float_literals_match_lit_cast(spark, dtype, fmt):
    """NaN, ±inf, float32 overflow and rounding, subnormal underflow and
    -0.0 store the same bits as ``F.lit(v).cast(t)``, scalar and array."""
    vals = [math.nan, math.inf, -math.inf, 1e308, 1.1, 3.4028235e38, 1e-46,
            -0.0, 0.1, 2.0 ** -149]
    row = spark.range(1).select(
        *[F.expr(sql_literal(v, dtype)).alias(f"s{i}")
          for i, v in enumerate(vals)],
        *[F.lit(v).cast(dtype).alias(f"o{i}") for i, v in enumerate(vals)],
        F.expr(sql_literal(vals, ArrayType(dtype))).alias("sa"),
        F.lit(vals).cast(ArrayType(dtype)).alias("oa")).collect()[0]
    n = len(vals)
    assert _bits([row[f"s{i}"] for i in range(n)], fmt) == \
        _bits([row[f"o{i}"] for i in range(n)], fmt)
    assert _bits(row["sa"], fmt) == _bits(row["oa"], fmt)


def test_literal_mismatch_raises(spark):
    """A value that does not fit its type raises, in Python for integers
    and at execution for the JSON payload, instead of reading as NULL."""
    with pytest.raises(TypeError):
        sql_literal("5", LongType())
    with pytest.raises(TypeError):
        sql_literal(True, LongType())
    with pytest.raises(ValueError):
        sql_literal(1 << 63, LongType())
    with pytest.raises(Exception, match="MALFORMED"):
        spark.range(1).selectExpr(
            sql_literal(["a"], ArrayType(LongType()))).collect()
