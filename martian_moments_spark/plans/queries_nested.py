"""Nested / semi-structured (JSON) operator queries (SURVEY.md §2.8).

The reference's core data motion is JSON-document → flattened rows:
``parse_json`` + ``LATERAL FLATTEN`` (with index) + path navigation +
array element access (flat_photo_response.sql:24-26,
dim_coordinate.sql:7-18, dim_cameras.sql:35-37). Here the same
operators run over (a) the real JSON column ``events.props`` and
(b) nested arrays-of-structs built from the relational tables with
``collect_list`` — which makes each flatten's expected output
expressible as plain ANSI SQL over the original rows (exact oracle).

Scale: explode/posexplode are narrow (no shuffle); the collect_list
builders shuffle once on their group key, same as any aggregate. None
of this leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from martian_moments_spark.catalog import load
from martian_moments_spark.operators.parallelize import spread
from martian_moments_spark.plans.registry import register


@register(
    "json_path_extract",
    ops=("N1", "N5", "P2"),
    bench=True,
    oracle="""
        SELECT
            event_id,
            event_type,
            CAST(props->>'$.k' AS INT) AS prop_k,
            (CAST(props->>'$.k' AS INT) >= 50) AS k_high
        FROM events
    """,
)
def json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json + typed path extraction — the silver flatten's
    `photo.value:rover.id::int` pattern (flat_photo_response.sql:10-21,
    parse via N1 at :26) on the events.props JSON column. from_json
    with an explicit schema keeps the parse JVM-side and vectorized."""
    events = spread(
        load(spark, sf_dir, "events").select("event_id", "event_type", "props"),
        "event_id",
        memo_key=sf_dir + ":events",
        byte_cap=True,
    )
    schema = StructType([StructField("k", IntegerType())])
    parsed = F.from_json(F.col("props"), schema)
    return events.select(
        "event_id",
        "event_type",
        parsed.getField("k").alias("prop_k"),
        (parsed.getField("k") >= 50).alias("k_high"),
    )


@register(
    "flatten_explode",
    ops=("N2", "E5", "A1"),
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
    """,
)
def flatten_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL FLATTEN round-trip — rows are first gathered into a
    per-order array-of-structs envelope (the reference's fan-in batch
    envelope, src/ingestion/photos.py:23-48) and then exploded back to
    one row per element (flat_photo_response.sql:24-26). The oracle is
    the identity: flatten(collect(x)) == x."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    enveloped = li.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_linenumber", "l_quantity")).alias("items")
    )
    item = F.explode("items").alias("item")
    return enveloped.select("l_orderkey", item).select(
        "l_orderkey",
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.col("item.l_quantity").alias("l_quantity"),
    )


@register(
    "posexplode_index",
    ops=("N3", "W2"),
    oracle="""
        SELECT
            l_orderkey,
            l_linenumber,
            CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1
                 AS INT) AS waypoint_sequence
        FROM lineitem
    """,
)
def posexplode_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLATTEN with index — `coord.index AS waypoint_sequence`
    (dim_coordinate.sql:11,18): posexplode emits the element position.
    The array is sorted at build time so the position is deterministic
    (the reference's coordinate arrays are ordered in the GeoJSON)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("linenumbers")
    )
    return arr.select(
        "l_orderkey", F.posexplode("linenumbers").alias("waypoint_sequence", "l_linenumber")
    ).select("l_orderkey", "l_linenumber", F.col("waypoint_sequence").cast("int"))


@register(
    "nested_double_flatten",
    ops=("N4", "N2", "N7"),
    oracle="""
        SELECT o.o_custkey, o.o_orderkey, l.l_linenumber, l.l_quantity
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def nested_double_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level unnest — manifests → photos[] → each sol's cameras[]
    (dim_cameras.sql:35-37). A doubly-nested document (customer →
    orders[] → items[]) is built, the inner array kept as a typed
    passthrough column (N7, flat_manifest_response.sql:17), then both
    levels exploded."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    order_docs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(F.collect_list(F.struct("l_linenumber", "l_quantity")).alias("items"))
    )
    cust_docs = order_docs.groupBy("o_custkey").agg(
        F.collect_list(F.struct("o_orderkey", "items")).alias("orders_doc")
    )
    lvl1 = cust_docs.select("o_custkey", F.explode("orders_doc").alias("o"))
    lvl2 = lvl1.select("o_custkey", F.col("o.o_orderkey").alias("o_orderkey"), F.explode("o.items").alias("item"))
    return lvl2.select(
        "o_custkey",
        "o_orderkey",
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.col("item.l_quantity").alias("l_quantity"),
    )


@register(
    "array_element_access",
    ops=("N6", "A7"),
    oracle="""
        SELECT
            vec_id,
            CAST(len(embedding) AS INT)        AS dim,
            CAST(embedding[1] AS DOUBLE)       AS x0,
            CAST(embedding[2] AS DOUBLE)       AS x1,
            CAST(embedding[3] AS DOUBLE)       AS x2
        FROM embeddings
    """,
)
def array_element_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array element by position + array length — GET(coord.value, 0/1/2)
    for lon/lat/elev (dim_coordinate.sql:12-14) and
    ARRAY_SIZE(sol.value:cameras) (flat_manifest_photos.sql:14), on the
    embeddings vector column."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("x0"),
        F.element_at("embedding", 2).cast("double").alias("x1"),
        F.element_at("embedding", 3).cast("double").alias("x2"),
    )


@register(
    "json_serialize_envelope",
    ops=("N8", "F3", "A8"),
    oracle="""
        SELECT
            event_type,
            to_json(struct_pack(
                filename := 'events_batch_' || event_type || '.json',
                event_count := COUNT(*),
                min_event_id := MIN(event_id),
                max_event_id := MAX(event_id)
            )) AS envelope
        FROM events
        GROUP BY event_type
    """,
)
def json_serialize_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON envelope serialization — the reference wraps every batch in
    a JSON envelope before the object-store put (json.dumps,
    src/utils/minio.py:36; envelope shape src/ingestion/photos.py:38-45)
    — as to_json(struct(...)) over grouped aggregates."""
    events = load(spark, sf_dir, "events").select("event_id", "event_type")
    return events.groupBy("event_type").agg(
        F.to_json(
            F.struct(
                F.concat(F.lit("events_batch_"), F.col("event_type"), F.lit(".json")).alias(
                    "filename"
                ),
                F.count(F.lit(1)).alias("event_count"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
            )
        ).alias("envelope")
    )


@register(
    "permissive_corrupt_json",
    ops=("N1", "X8"),
    oracle="""
        SELECT
            event_id,
            CASE WHEN event_id % 7 = 0 THEN NULL
                 ELSE CAST(props->>'$.k' AS INT) END AS prop_k,
            (event_id % 7 = 0) AS is_corrupt
        FROM events
    """,
)
def permissive_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant JSON parse — the reference loads with
    ON_ERROR='CONTINUE' (src/utils/snowflake.py:50); Spark's analog is
    from_json PERMISSIVE mode (SURVEY X8): corrupt documents parse to
    NULL instead of failing the job. Corruption is injected
    deterministically (every 7th event's JSON is truncated)."""
    events = load(spark, sf_dir, "events").select("event_id", "props")
    corrupted = F.when(
        F.col("event_id") % 7 == 0, F.substring(F.col("props"), 1, 3)
    ).otherwise(F.col("props"))
    schema = StructType([StructField("k", IntegerType())])
    parsed = F.from_json(corrupted, schema, {"mode": "PERMISSIVE"})
    return events.select(
        "event_id",
        parsed.getField("k").alias("prop_k"),
        parsed.getField("k").isNull().alias("is_corrupt"),
    )


@register(
    "json_schema_inference",
    ops=("N1",),
    oracle="""
        SELECT event_id,
               CAST(props->>'$.k' AS BIGINT) AS prop_k
        FROM events
    """,
)
def json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read with INFERRED schema — the VARIANT fallback when
    no explicit StructType exists (SURVEY §1.3, N1 note). The schema
    is inferred from a deterministic multi-document sample
    (functions.jsonio.infer_json_schema): Spark's own inference merges
    the field sets of all sampled documents, so heterogeneous shapes
    keep their union of fields — row-1-only inference would silently
    drop any field row 1 lacks (tests/test_sources.py pins this). The
    merged schema is then applied JVM-side to every row; explicit
    schemas (json_path_extract) remain the contract path."""
    from martian_moments_spark.functions.jsonio import infer_json_schema

    events = load(spark, sf_dir, "events").select("event_id", "props")
    inferred = infer_json_schema(events, "props", sample_rows=64, order_col="event_id")
    return events.select(
        "event_id",
        F.from_json("props", inferred).getField("k").cast("long").alias("prop_k"),
    )
