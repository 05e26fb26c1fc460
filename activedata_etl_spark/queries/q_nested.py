"""Nested/JSON [Q] pairs — SURVEY.md §2.9 (array + JSON tables).

The testdata has no natively nested table (FIXTURES.md), so nested frames
are built in-engine with ``nest`` (collect_list of structs — the ETL-time
denormalization the reference performs) and then queried; the oracle
checks the round-trip against the flat truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import sql_dsum
from ..io import load_table
from ..operators import nested as N
from ..plans import query as JXQ
from ..staging import scratch_path
from .registry import query


def _nested_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r13 opt (guide §2.3, project before the exchange): l_extendedprice
    # was collected into every item struct but never read by either
    # consumer (roundtrip selects linenumber+quantity; array_path
    # aggregates the same two) — Catalyst cannot prune struct fields
    # through collect_list, so the dead column rode the scan, the
    # repartition exchange, and every array build. Plan diff: ReadSchema
    # 4→3 columns, Exchange input 4→3, collect_list struct 3→2 fields.
    return N.nest(
        li, parent_keys=["l_orderkey"],
        item_cols=["l_linenumber", "l_quantity"],
        order_by="l_linenumber",
    )


@query(
    "nested_explode_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    """,
)
def nested_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nest (collect per parent) → unnest (deep query) reproduces the
    child table exactly — explode is the inverse of ETL denormalization."""
    nested = _nested_orders(spark, sf_dir)
    return N.unnest(nested, "items", ["l_orderkey"]).select(
        "l_orderkey", "l_linenumber", "l_quantity")


@query(
    "nested_array_path",
    oracle="""
    SELECT l_orderkey,
           COUNT(*)                                   AS n_items,
           CAST(SUM(l_linenumber) AS BIGINT)          AS line_sum,
           MAX(l_quantity)                            AS max_qty,
           COUNT(CASE WHEN l_quantity > 45 THEN 1 END) > 0 AS any_bulk
    FROM lineitem GROUP BY l_orderkey
    """,
)
def nested_array_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlatList semantics: ``items.l_quantity`` maps the path over every
    array member; exists-within-array via higher-order F.exists."""
    nested = _nested_orders(spark, sf_dir)
    qtys = F.col("items.l_quantity")  # dot-path through array → array
    return nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.aggregate(F.col("items.l_linenumber"), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("line_sum"),
        F.array_max(qtys).alias("max_qty"),
        F.exists("items", lambda it: it.getField("l_quantity") > 45).alias("any_bulk"),
    )


@query(
    "nested_leaves",
    oracle="""
    SELECT o_orderkey    AS "ids.okey",
           o_custkey     AS "ids.ckey",
           o_orderstatus AS "info.status",
           o_totalprice  AS "info.price"
    FROM orders
    """,
)
def nested_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jx {"leaves": "."}: nested doc → dotted-name leaf columns."""
    o = load_table(spark, sf_dir, "orders").select(
        F.struct(F.col("o_orderkey").alias("okey"),
                 F.col("o_custkey").alias("ckey")).alias("ids"),
        F.struct(F.col("o_orderstatus").alias("status"),
                 F.col("o_totalprice").alias("price")).alias("info"),
    )
    return N.leaves(o)


@query(
    "json_extract_ops",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                AS k_str,
           CAST(json_extract(props, '$.k') AS BIGINT)       AS k_int,
           CAST(json_extract(props, '$.nope') AS BIGINT)    AS k_missing,
           to_json(struct_pack(t := event_type, u := user_id)) AS packed
    FROM events
    """,
)
def json_extract_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mo_json surface: parse (get_json_object / from_json with schema) and
    serialize (to_json); `events.props` is the JSON-string fixture."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT, nope BIGINT")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        parsed.getField("nope").alias("k_missing"),
        F.to_json(F.struct(F.col("event_type").alias("t"),
                           F.col("user_id").alias("u"))).alias("packed"),
    )


@query(
    "nested_leaves_deep",
    oracle="""
    SELECT o_orderkey    AS "okey",
           o_orderstatus AS "meta.status",
           o_totalprice  AS "meta.detail.price",
           o_orderpriority AS "meta.detail.priority",
           o_custkey     AS "meta.who.ckey"
    FROM orders
    """,
)
def nested_leaves_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """leaves over a GENUINELY deep doc: 2-level struct nesting (struct
    inside struct, two siblings at depth 2) — exercises the recursive
    schema walk past depth 1, which the shallow fixture never did
    (r2 verdict 'what's missing' #2). Output columns are the full dotted
    leaf paths, the reference's LeavesOp naming."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(F.col("o_totalprice").alias("price"),
                     F.col("o_orderpriority").alias("priority")).alias("detail"),
            F.struct(F.col("o_custkey").alias("ckey")).alias("who"),
        ).alias("meta"),
    )
    return N.leaves(o)


@query(
    "jx_deep_two_hop",
    oracle=f"""
    SELECT o.o_custkey, COUNT(*) AS n_lines,
           {sql_dsum('l.l_quantity')} AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_quantity >= 30
    GROUP BY o.o_custkey
    """,
)
def jx_deep_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-hop deep query: {"from": "cust_nested.orders.items"} walks a
    customer→orders→lineitems document, exploding both array levels with
    parent columns in scope (es52/deep.py walks child tables the same
    way). The doc is built by nesting twice at ETL time; the oracle is
    the equivalent relational join — deep-from must be exactly a
    pre-joined view of the child table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    o_items = N.nest(li, ["l_orderkey"],
                     ["l_linenumber", "l_quantity"], order_by="l_linenumber")
    level1 = o.select("o_custkey", "o_orderkey").join(
        o_items, o.o_orderkey == o_items.l_orderkey).drop("l_orderkey")
    cust = N.nest(level1, ["o_custkey"], ["o_orderkey", "items"],
                  order_by="o_orderkey", array_name="orders")
    cust.createOrReplaceTempView("cust_nested")
    return JXQ.run(spark, {
        "from": "cust_nested.orders.items",
        "where": {"gte": ["l_quantity", 30]},
        "groupby": "o_custkey",
        "select": [
            {"name": "n_lines", "aggregate": "count"},
            {"name": "total_qty", "value": "l_quantity", "aggregate": "sum"},
        ],
    })


@query(
    "typed_encoding_fields",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN lang END   AS v_str,
           CASE WHEN doc_id % 3 = 1 THEN doc_id END AS v_num,
           CASE WHEN doc_id % 3 = 2 THEN doc_id END AS v_arr0,
           1 AS e
    FROM documents
    """,
)
def typed_encoding_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-encoding ingest (mo_json/typed_encoder): heterogeneous docs
    — field v is a string, a number, or an array depending on the row —
    are encoded under type-suffix keys, so every typed value is
    reachable at a deterministic path (v.~s~ / v.~n~ / v.~a~[0].~n~) and
    NO path ever holds two types. The oracle states the expected value
    of each typed path directly from the construction rule; the exists
    counter ~e~ is 1 for every doc."""
    from ..operators import typed as TY

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    m = F.col("doc_id") % 3
    raw = (
        F.when(m == 0, F.concat(F.lit('{"v": "'), F.col("lang"), F.lit('"}')))
        .when(m == 1, F.concat(F.lit('{"v": '),
                               F.col("doc_id").cast("string"), F.lit("}")))
        .otherwise(F.concat(F.lit('{"v": ['), F.col("doc_id").cast("string"),
                            F.lit(", "), (F.col("doc_id") + 1).cast("string"),
                            F.lit("]}")))
    )
    enc = d.withColumn("__enc__", TY.typed_encode_json(raw))
    # r13 opt: one from_json parse serves all four typed paths (same
    # rewrite as typed_encoding_compiled below, where it is documented
    # and A/B-measured; the typed-encoding JSON shape is identical across
    # the UDF-walk and compiled encoders — the twin queries share this
    # oracle). Schema + PERMISSIVE-mode caveat live on the shared
    # constant (operators/typed.py).
    return enc.select(
        "doc_id", F.from_json("__enc__", TY.TYPED_READBACK_SCHEMA).alias("__j__"),
    ).select(
        "doc_id",
        F.col("__j__.v.~s~").alias("v_str"),
        F.col("__j__.v.~n~").alias("v_num"),
        F.col("__j__.v.~a~")[0]["~n~"].alias("v_arr0"),
        F.col("__j__.~e~").cast("int").alias("e"),
    )


@query(
    "typed_encoding_compiled",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN lang END   AS v_str,
           CASE WHEN doc_id % 3 = 1 THEN doc_id END AS v_num,
           CASE WHEN doc_id % 3 = 2 THEN doc_id END AS v_arr0,
           1 AS e
    FROM documents
    """,
)
def typed_encoding_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME corpus and oracle as typed_encoding_fields, but encoded by
    the schema-known COMPILED path (operators/typed.py
    typed_encode_compiled): each per-source schema compiles to pure
    from_json → struct rewrite → to_json Column expressions, zero Python
    in the hot path (plan-asserted in test_typed_encoding). Heterogeneous
    sources = one compiled encoder per source schema, selected per row —
    the realistic 100 TB ingest shape (per-source schemas known; the UDF
    walk stays as the schemaless fallback)."""
    from ..operators import typed as TY

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    m = F.col("doc_id") % 3
    raw = (
        F.when(m == 0, F.concat(F.lit('{"v": "'), F.col("lang"), F.lit('"}')))
        .when(m == 1, F.concat(F.lit('{"v": '),
                               F.col("doc_id").cast("string"), F.lit("}")))
        .otherwise(F.concat(F.lit('{"v": ['), F.col("doc_id").cast("string"),
                            F.lit(", "), (F.col("doc_id") + 1).cast("string"),
                            F.lit("]}")))
    )
    enc = d.withColumn("__enc__", (
        F.when(m == 0, TY.typed_encode_compiled(raw, "v string"))
        .when(m == 1, TY.typed_encode_compiled(raw, "v bigint"))
        .otherwise(TY.typed_encode_compiled(raw, "v array<bigint>"))))
    # r13 opt (guide §4.1, fewer expression passes): the four typed paths
    # were read back with four get_json_object calls — four independent
    # parses of the SAME encoded string per row (plus the encoder's own
    # from_json/to_json, 6 JSON ops/row). One from_json against the
    # typed-key schema parses once and serves all four paths; values are
    # bit-identical (typed paths hold engine-encoded integral bigints and
    # strings, so the typed parse equals get_json_object + lenient cast —
    # row-for-row equality verified on the full fixture, oracle-verified
    # at sf0.01 and sf0.1). Schema + PERMISSIVE-mode caveat live on the
    # shared constant (operators/typed.py).
    return enc.select(
        "doc_id", F.from_json("__enc__", TY.TYPED_READBACK_SCHEMA).alias("__j__"),
    ).select(
        "doc_id",
        F.col("__j__.v.~s~").alias("v_str"),
        F.col("__j__.v.~n~").alias("v_num"),
        F.col("__j__.v.~a~")[0]["~n~"].alias("v_arr0"),
        F.col("__j__.~e~").cast("int").alias("e"),
    )


@query(
    "snowflake_roundtrip",
    oracle="""
    SELECT l_orderkey,
           COUNT(*)                                                  AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)   AS sum_qty,
           MIN(l_linenumber)                                        AS first_ln
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def snowflake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake (parent/child-table) storage — the reference's OTHER
    nested-document strategy (its embedded jx_sqlite backend normalizes
    every nested array into a child table; SURVEY.md §1.2): nest lineitem
    under orders, WRITE the nested frame as parent + child parquet
    (sources/snowflake.py), re-read and REASSEMBLE the ordered arrays,
    then aggregate over the rebuilt elements. The oracle computes the
    same facts straight from the relational base table and never sees
    the storage — a green check proves the snowflake round-trip is
    lossless INCLUDING element order (first_ln = the [0] element only if
    __pos__ reassembly preserved the write-time l_linenumber order)."""
    from ..operators import nested as N
    from ..sources import snowflake as SN

    li = load_table(spark, sf_dir, "lineitem")
    doc = N.nest(li, parent_keys=["l_orderkey"],
                 item_cols=["l_linenumber", "l_quantity"],
                 order_by="l_linenumber")
    path = scratch_path("snowflake")
    SN.write_snowflake(doc, path, ["l_orderkey"], "items")
    back = SN.read_snowflake(spark, path, "items")
    dec = "decimal(18,6)"
    return back.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.aggregate(
            F.col("items"), F.lit(0).cast(dec),
            lambda a, x: (a + x["l_quantity"].cast(dec)).cast(dec)
        ).cast("double").alias("sum_qty"),
        F.col("items")[0]["l_linenumber"].alias("first_ln"),
    )
