"""Scalar, array, JSON and SQL-function queries (``fn_*``, ``sql_*``).

Each suite pins a family of ``pyspark.sql.functions`` against its DuckDB
equivalent, so the hash gate proves cross-engine semantics. Cross-engine
gotchas encoded here:

- DuckDB ``list_distinct``/``list_intersect`` do not preserve order, so
  every array-set result is sorted on both sides.
- Array elements hash via their string rendering, so arrays are integer
  only (float arrays differ in trailing-digit rendering).
- Regex functions are avoided outside ``fn_scalar``'s dialect-safe patterns
  (Java vs RE2 dialect drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jigsaw_spark.functions.hashing import md5_int
from jigsaw_spark.operators.text import tokens_sql
from jigsaw_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "fn_scalar",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)  AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           o_orderkey % 7                  AS id_mod,
           CAST(floor(o_totalprice / 10000) AS INT) AS price_bucket,
           lower(o_orderstatus)            AS status_lower,
           concat_ws(':', o_orderstatus, o_orderpriority) AS pri_tag,
           substr(o_orderpriority, 1, 1)   AS pri_digit
    FROM orders
    """,
    "scalar fn surface: date parts, modulo, floor, case, concat, substring",
)
def fn_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        (F.col("o_orderkey") % 7).alias("id_mod"),
        F.floor(F.col("o_totalprice") / 10000).cast("int").alias("price_bucket"),
        F.lower("o_orderstatus").alias("status_lower"),
        F.concat_ws(":", "o_orderstatus", "o_orderpriority").alias("pri_tag"),
        F.substring("o_orderpriority", 1, 1).alias("pri_digit"),
    )


@register(
    "fn_datetime",
    """
    SELECT event_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(extract(year FROM ts) AS INT) AS y,
           CAST(extract(month FROM ts) AS INT) AS mo,
           CAST(extract(hour FROM ts) AS INT) AS h,
           ts + INTERVAL 1 DAY AS next_day
    FROM events
    """,
    "datetime scalar surface: truncation, field extraction, interval "
    "arithmetic — all codegen'd projections at scan speed",
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.hour("ts").alias("h"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("next_day"),
    )


@register(
    "fn_json",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k,
           CAST(props->>'$.missing' AS INT) AS missing
    FROM events
    """,
    "JSON extraction from a string column (semi-structured props) — "
    "codegen'd path evaluation, scan-speed projection",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").cast("int").alias("missing"),
    )


@register(
    "fn_higher_order",
    """
    SELECT l_orderkey,
           CAST(len(list_filter(parts, x -> x % 2 = 0)) AS INT) AS n_even,
           list_reduce(list_transform(parts, x -> x * 2), (a, b) -> a + b)
             AS doubled_sum,
           list_sort(parts)[1] AS smallest
    FROM (SELECT l_orderkey, list(l_partkey ORDER BY l_linenumber) AS parts
          FROM lineitem GROUP BY l_orderkey)
    """,
    "higher-order collection functions (filter / transform+aggregate / "
    "sort over array columns) — in-row lambdas, whole-stage codegen, the "
    "no-UDF path for nested data",
)
def fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    parts = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "l_partkey"))
            ).alias("_p")
        )
        .select(
            "l_orderkey",
            F.transform("_p", lambda s: s["l_partkey"]).alias("parts"),
        )
    )
    return parts.select(
        "l_orderkey",
        F.size(F.filter("parts", lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.transform("parts", lambda x: x * 2),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("doubled_sum"),
        F.array_min("parts").alias("smallest"),
    )


@register(
    "fn_subquery",
    """
    SELECT o.o_orderkey, o.o_totalprice,
           (SELECT round(max(o2.o_totalprice), 2) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey) AS cust_max
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
    """,
    "subquery surface: correlated EXISTS / NOT EXISTS (decorrelated to "
    "semi/anti joins) + correlated scalar subquery (decorrelated to an "
    "aggregate + join) — Catalyst's RewritePredicateSubquery at work",
)
def fn_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    o = os.path.join(sf_dir, "orders.parquet")
    li = os.path.join(sf_dir, "lineitem.parquet")
    return spark.sql(
        f"""
        SELECT o.o_orderkey, o.o_totalprice,
               (SELECT round(max(o2.o_totalprice), 2)
                  FROM parquet.`{o}` o2
                 WHERE o2.o_custkey = o.o_custkey) AS cust_max
        FROM parquet.`{o}` o
        WHERE EXISTS (SELECT 1 FROM parquet.`{li}` l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM parquet.`{li}` l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        """
    )


# ---------------------------------------------------------------------------
# Lateral explode (generator surface): word expansion + frequency. The
# explode is a narrow op — no shuffle until the count aggregate.
# ---------------------------------------------------------------------------


@register(
    "fn_explode",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    HAVING count(*) >= 25
    """,
    "explode/unnest generator + word-frequency aggregate",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 25)
    )


@register(
    "fn_strings",
    """
    SELECT c_custkey,
           split_part(c_name, '#', 2)             AS name_id,
           lpad(CAST(c_custkey % 1000 AS VARCHAR), 6, '0') AS padded,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
           reverse(left(c_name, 8))               AS rev8,
           instr(c_name, '#')                     AS uspos,
           repeat(right(c_mktsegment, 2), 2)      AS rep2,
           length(c_name) + length(c_mktsegment)  AS total_len,
           md5(c_name)                            AS name_md5
    FROM customer
    """,
    "string-function suite: split_part/lpad/translate/reverse/left/right/"
    "instr/repeat/length/md5 — all JVM-side, zero-shuffle projection",
)
def fn_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_id"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 6, "0").alias("padded"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_tr"),
        F.reverse(F.substring(F.col("c_name"), 1, 8)).alias("rev8"),
        F.instr(F.col("c_name"), "#").alias("uspos"),
        F.repeat(F.substring(F.col("c_mktsegment"), -2, 2), 2).alias("rep2"),
        (F.length("c_name") + F.length("c_mktsegment")).alias("total_len"),
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
    )


@register(
    "fn_arrays",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             list_sort(list(l_linenumber)) AS lines,
             list_sort(list_distinct(list(l_partkey % 100))) AS pk_mod
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           array_to_string(lines, ',')        AS lines_csv,
           len(lines)                         AS n_lines,
           array_to_string(lines[1:2], ',')   AS first2_csv,
           coalesce(list_position(lines, 3), 0) AS pos3,
           list_max(pk_mod)                   AS max_pk,
           coalesce(array_to_string(
                      list_sort(list_intersect(pk_mod, [0,1,2,3,4])), ','),
                    '')                       AS low_pk_csv,
           list_has_any(pk_mod, [97,98,99])   AS has_high
    FROM per_order
    """,
    "array-function suite over grouped collect: sort/distinct/slice/"
    "position/max/intersect/overlap — one shuffle (the groupBy), then "
    "pure JVM array kernels; arrays emitted as CSV strings (the driver's "
    "pandas canonicalizer cannot sort array-typed columns)",
)
def fn_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lines"),
        F.sort_array(
            F.array_distinct(F.collect_list(F.col("l_partkey") % 100))
        ).alias("pk_mod"),
    )
    def _csv(c):
        return F.array_join(F.transform(c, lambda x: x.cast("string")), ",")

    return per_order.select(
        "l_orderkey",
        _csv(F.col("lines")).alias("lines_csv"),
        F.size("lines").alias("n_lines"),
        _csv(F.slice("lines", 1, 2)).alias("first2_csv"),
        F.array_position("lines", 3).alias("pos3"),
        F.array_max("pk_mod").alias("max_pk"),
        _csv(
            F.sort_array(
                F.array_intersect(
                    "pk_mod", F.array(*[F.lit(x) for x in range(5)])
                )
            )
        ).alias("low_pk_csv"),
        F.arrays_overlap(
            "pk_mod", F.array(F.lit(97), F.lit(98), F.lit(99))
        ).alias("has_high"),
    )


@register(
    "fn_conditional",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           least(round(c_acctbal, 2), 5000.0)    AS capped_bal,
           greatest(round(c_acctbal, 2), 0.0)    AS floored_bal,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 1000 THEN 'low'
                ELSE 'high' END                  AS bal_band,
           ifnull(nullif(c_nationkey, 0), -1)    AS nation_or_neg
    FROM customer
    """,
    "conditional/null surface: coalesce/nullif/least/greatest/CASE/ifnull "
    "— constant-folded, zero-shuffle projection",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal"), 2)
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_or_other"),
        F.least(bal, F.lit(5000.0)).alias("capped_bal"),
        F.greatest(bal, F.lit(0.0)).alias("floored_bal"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.ifnull(F.nullif(F.col("c_nationkey"), F.lit(0)), F.lit(-1)).alias(
            "nation_or_neg"
        ),
    )


@register(
    "fn_regex",
    r"""
    SELECT c_custkey,
           regexp_extract(c_name, 'Customer#([0-9]+)', 1) AS cust_digits,
           len(regexp_extract_all(c_name, '[0-9]')) AS n_digits,
           regexp_matches(c_name, '^Customer#[0-9]+$') AS well_formed,
           regexp_replace(c_mktsegment, '[AEIOU]', '*', 'g') AS seg_masked
    FROM customer
    """,
    "regex surface with dialect-safe patterns (char classes + anchors, no "
    "lookaround): capture-group extract, match count, full-match test, "
    "global replace — zero-shuffle codegen projection",
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), r"Customer#([0-9]+)", 1).alias(
            "cust_digits"
        ),
        F.size(F.regexp_extract_all(F.col("c_name"), F.lit("[0-9]"), 0)).alias(
            "n_digits"
        ),
        F.col("c_name").rlike(r"^Customer#[0-9]+$").alias("well_formed"),
        F.regexp_replace(F.col("c_mktsegment"), "[AEIOU]", "*").alias(
            "seg_masked"
        ),
    )


@register(
    "fn_null_order",
    """
    SELECT c_custkey, seg_null
    FROM (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg_null
          FROM customer)
    ORDER BY seg_null NULLS FIRST, c_custkey
    LIMIT 400
    """,
    "explicit null-ordering: NULLS FIRST sort + deterministic key "
    "tiebreak through a LIMIT — both engines must agree on the boundary",
)
def fn_null_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_null"),
        )
        .orderBy(F.col("seg_null").asc_nulls_first(), F.col("c_custkey").asc())
        .limit(400)
    )


@register(
    "fn_codec",
    """
    SELECT c_custkey,
           to_base64(c_name::BLOB)               AS name_b64,
           hex(c_mktsegment)                     AS seg_hex,
           from_base64(to_base64(c_name::BLOB))::VARCHAR AS roundtrip,
           length(to_base64(c_name::BLOB))       AS b64_len
    FROM customer
    """,
    "binary codec surface: base64 / hex / base64-roundtrip over UTF-8 "
    "bytes — the opaque-payload encoding path for multimodal columns; "
    "zero-shuffle projection",
)
def fn_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    name_bin = F.col("c_name").cast("binary")
    b64 = F.base64(name_bin)
    return cust.select(
        "c_custkey",
        b64.alias("name_b64"),
        F.hex(F.col("c_mktsegment").cast("binary")).alias("seg_hex"),
        F.unbase64(b64).cast("string").alias("roundtrip"),
        F.length(b64).alias("b64_len"),
    )


@register(
    "fn_math_bitwise",
    """
    SELECT o_orderkey,
           o_orderkey & 255                   AS low_bits,
           o_orderkey | 4096                  AS with_flag,
           xor(o_orderkey, 21845)             AS xored,
           o_orderkey << 2                    AS shifted_l,
           o_orderkey >> 3                    AS shifted_r,
           round(exp(o_totalprice / 500000.0), 6)  AS e_scaled,
           round(pow(o_totalprice, 0.5), 4)   AS sqrt_price,
           round(log10(o_totalprice + 1.0), 6) AS log10_price,
           round(log2(CAST(o_orderkey + 2 AS DOUBLE)), 6) AS log2_key,
           CAST(sign(o_totalprice - 100000.0) AS INT) AS above_100k,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_kbin,
           abs(o_custkey - 750)               AS dist_mid
    FROM orders
    """,
    "math + bitwise scalar surface: &,|,xor,shifts and exp/pow/log10/"
    "log2/sign/floor/abs — whole-stage-codegen projection, zero shuffle",
)
def fn_math_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    key, price = F.col("o_orderkey"), F.col("o_totalprice")
    return orders.select(
        "o_orderkey",
        key.bitwiseAND(F.lit(255)).alias("low_bits"),
        key.bitwiseOR(F.lit(4096)).alias("with_flag"),
        key.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(key, 2).alias("shifted_l"),
        F.shiftright(key, 3).alias("shifted_r"),
        F.round(F.exp(price / 500000.0), 6).alias("e_scaled"),
        F.round(F.pow(price, 0.5), 4).alias("sqrt_price"),
        F.round(F.log10(price + 1.0), 6).alias("log10_price"),
        F.round(F.log2((key + 2).cast("double")), 6).alias("log2_key"),
        # int cast on both sides: Spark signum is DOUBLE (-1.0) but DuckDB
        # sign is INT (-1) — full-precision canon renders them differently
        F.signum(price - 100000.0).cast("int").alias("above_100k"),
        F.floor(price / 1000.0).cast("bigint").alias("price_kbin"),
        F.abs(F.col("o_custkey") - 750).alias("dist_mid"),
    )


@register(
    "fn_maps",
    """
    SELECT o_orderkey,
           2 AS n_entries,
           'priority,status' AS sorted_keys,
           o_orderpriority || '|' || o_orderstatus AS packed_vals,
           CASE WHEN o_orderstatus = 'F' THEN 'status=F' ELSE 'none' END
             AS filtered_entry,
           upper(o_orderstatus) AS status_upper
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    "map-function surface (map construction, map_keys/map_values sorted "
    "projection, map_filter, transform_values) flattened to scalar "
    "columns the oracle rebuilds directly — the map column itself never "
    "leaves the plan, so no engine-specific map rendering is compared",
)
def fn_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    filtered = F.map_filter(m, lambda k, v: (k == F.lit("status")) & (v == F.lit("F")))
    return o.select(
        "o_orderkey",
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("sorted_keys"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_keys(m)), lambda k: F.element_at(m, k)
            ),
            "|",
        ).alias("packed_vals"),
        F.coalesce(
            F.try_element_at(
                F.transform(
                    F.map_entries(filtered),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                ),
                F.lit(1),
            ),
            F.lit("none"),
        ).alias("filtered_entry"),
        F.element_at(
            F.transform_values(m, lambda k, v: F.upper(v)), F.lit("status")
        ).alias("status_upper"),
    )


@register(
    "fn_structs",
    """
    WITH s AS (
      SELECT o_orderkey,
             o_orderstatus AS st, o_orderpriority AS pri,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 100 = 0)
    SELECT o_orderkey,
           st AS status_field,
           st || '#' || pri AS packed,
           CASE WHEN (st, pri) = ('F', '1-URGENT') THEN 1 ELSE 0 END
             AS is_urgent_f,
           CAST((st, pri) < ('O', '3-MEDIUM') AS INT) AS below_pivot
    FROM s
    """,
    "struct surface: named_struct construction, field access, struct "
    "equality and lexicographic ordering comparison — flattened to "
    "scalars; DuckDB compares ROW values with the same field-order "
    "lexicographic semantics",
)
def fn_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    st = F.struct(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pri"),
    )
    pivot = F.struct(F.lit("O").alias("st"), F.lit("3-MEDIUM").alias("pri"))
    return o.select(
        "o_orderkey",
        st.getField("st").alias("status_field"),
        F.concat(st["st"], F.lit("#"), st["pri"]).alias("packed"),
        F.when(
            st == F.struct(F.lit("F").alias("st"), F.lit("1-URGENT").alias("pri")),
            1,
        )
        .otherwise(0)
        .alias("is_urgent_f"),
        (st < pivot).cast("int").alias("below_pivot"),
    )


@register(
    "fn_try_errors",
    """
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS INT) AS bad_int,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_digit,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice / (o_orderkey % 7)
           END AS safe_div,
           TRY_CAST('1997-13-40' AS DATE) IS NULL AS bad_date_null,
           COALESCE(TRY_CAST(o_orderstatus AS INT), -1) AS status_or_default
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
    "error-tolerant scalar surface: try_cast on unparseable strings/"
    "dates → NULL (not job failure — the 100 TB dirty-data contract), "
    "try_divide zero → NULL, COALESCE defaulting. DuckDB TRY_CAST has "
    "identical null-on-failure semantics; the division is double-IEEE on "
    "identical operands",
)
def fn_try_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").try_cast("int").alias("bad_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_digit"),
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 7).alias(
            "safe_div"
        ),
        F.try_to_timestamp(F.lit("1997-13-40")).cast("date").isNull().alias(
            "bad_date_null"
        ),
        F.coalesce(
            F.col("o_orderstatus").try_cast("int"), F.lit(-1)
        ).alias("status_or_default"),
    )


@register(
    "fn_variant",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k,
           CAST(CAST(props->>'$.k' AS INT) % 7 AS INT) AS k_mod,
           CASE WHEN CAST(props->>'$.k' AS INT) >= 50
                THEN 'hi' ELSE 'lo' END AS band,
           CAST(props->>'$.absent' AS INT) AS absent
    FROM events
    """,
    "Spark 4 VARIANT path for semi-structured data: parse_json once into "
    "a typed variant column, then try_variant_get extractions (binary "
    "variant encoding decoded per access — vs fn_json's per-extraction "
    "string re-parse of get_json_object; one parse amortizes across N "
    "accesses, the semi-structured scale win). Missing paths yield NULL "
    "(try_ contract).",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "int")
    return v.select(
        "event_id",
        k.alias("k"),
        (k % 7).cast("int").alias("k_mod"),
        F.when(k >= 50, F.lit("hi")).otherwise(F.lit("lo")).alias("band"),
        F.try_variant_get("v", "$.absent", "int").alias("absent"),
    )


@register(
    "fn_hashes",
    """
    SELECT o_orderkey,
           md5(o_orderpriority) AS h_md5,
           sha256(o_orderpriority) AS h_sha256,
           md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus)
             AS h_composite
    FROM orders
    """,
    "cryptographic digest surface (md5 / sha-256 / composite-key "
    "fingerprint): the content-hash primitives the dedup family and "
    "md5-keyed determinism (P8) build on, evaluated JVM-side inside "
    "whole-stage codegen",
)
def fn_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.md5("o_orderpriority").alias("h_md5"),
        F.sha2("o_orderpriority", 256).alias("h_sha256"),
        F.md5(
            F.concat_ws("|", F.col("o_orderkey").cast("string"), "o_orderstatus")
        ).alias("h_composite"),
    )


@register(
    "fn_udtf_lateral",
    f"""
    WITH w AS (
      SELECT doc_id, {tokens_sql("text")} AS ws FROM documents
    )
    SELECT doc_id, i AS chunk_idx,
           array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS chunk,
           len(ws[(i*8+1):(i*8+8)]) AS n_tokens
    FROM w, LATERAL (
      SELECT unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS i) t
    WHERE len(ws) >= 1
    """,
    "Spark 4 Python UDTF surface (arrow-optimized) via lateralJoin: one "
    "row per 8-token window. API-surface query — the expression-only "
    "chunker (text_chunk) is the production path; this pins the UDTF "
    "execution path to the same semantics",
)
def fn_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.functions.udtfs import ChunkText

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.lateralJoin(
        ChunkText(F.col("text").outer(), F.lit(8).outer())
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "sql_scripting_threshold",
    """
    WITH t AS (
      SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders),
    b AS (
      SELECT CAST(ceil(o_totalprice / 50000) AS BIGINT) * 50000 AS bi,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM orders GROUP BY 1),
    c AS (
      SELECT bi, sum(s) OVER (ORDER BY bi) AS cum FROM b)
    SELECT bi AS threshold, round(cum / total, 6) AS cum_frac
    FROM c CROSS JOIN t
    WHERE cum >= 0.5 * total
    ORDER BY bi LIMIT 1
    """,
    "Spark 4 SQL scripting (BEGIN/DECLARE/WHILE): iterative revenue-"
    "median threshold search — each round is one pushdown-filtered agg "
    "scan; the oracle solves the same fixpoint in closed form "
    "(bucketed cumulative sum), proving the loop's answer",
)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    try:
        spark.conf.set("spark.sql.scripting.enabled", "true")
    except Exception:
        pass
    return spark.sql(
        """
        BEGIN
          DECLARE total DOUBLE;
          DECLARE cum DOUBLE = 0.0;
          DECLARE t BIGINT = 0;
          SET total = (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM orders);
          WHILE cum < 0.5 * total DO
            SET t = t + 50000;
            SET cum = (
              SELECT coalesce(
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                0.0)
              FROM orders WHERE o_totalprice <= t);
          END WHILE;
          SELECT t AS threshold, round(cum / total, 6) AS cum_frac;
        END
        """
    )


@register(
    "fn_collation",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           count(DISTINCT lower(o_orderstatus)) AS n_status_ci,
           min(lower(o_orderstatus)) AS first_status_ci
    FROM orders
    GROUP BY o_orderpriority
    """,
    "Spark 4 collation surface: UTF8_LCASE comparison/grouping — "
    "case-insensitive distinct and min push into the collated column "
    "(no lower() wrapper on the engine side; the oracle replays with "
    "lower() which is value-equivalent for ASCII data)",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    ci = F.collate(F.col("o_orderstatus"), "UTF8_LCASE")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(ci).alias("n_status_ci"),
        F.lower(F.min(ci)).cast("string").alias("first_status_ci"),
    )


@register(
    "fn_url_suite",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' ||
             CAST(doc_id AS VARCHAR) || '?lang=' || lang || '#frag' AS url
      FROM documents)
    SELECT doc_id,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, 'lang=([^&#]*)', 1) AS lang_param
    FROM u
    """,
    "URL parsing surface: Spark's parse_url (PROTOCOL/HOST/PATH/QUERY + "
    "keyed QUERY extraction) over deterministically synthesized URLs; "
    "the oracle replays with anchored regexes — map-only projection",
)
def fn_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("#frag"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


# ---------------------------------------------------------------------------
# fn_variant
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           CAST(min(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS min_k,
           CAST(max(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS max_k,
           CAST(sum(CASE WHEN json_extract(props, '$.absent') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events GROUP BY event_type
"""


@register(
    "fn_variant_agg",
    _VARIANT_SQL,
    "Spark 4 VARIANT surface: parse_json once per row, then "
    "variant_get('$.k', 'long') typed path extraction and "
    "try_variant_get for an absent path (NULL, no error) — the "
    "open-schema semi-structured access that stays fully JVM-side "
    "(shredded binary encoding, no per-row Python, no fixed schema "
    "declaration), aggregated per event type. Oracle = DuckDB "
    "json_extract on the same paths",
)
def fn_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    absent = F.try_variant_get(v, "$.absent", "long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
        F.sum(F.when(absent.isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# fn_url_parse
# ---------------------------------------------------------------------------

_URLPARSE_SQL = """
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || lang
               || '/' || doc_id || '?id=' || doc_id % 7
               || '&page=' || doc_id % 3 || '#sec' || doc_id % 2 AS url
      FROM documents),
    parts AS (
      SELECT doc_id,
             split_part(split_part(url, '//', 2), '/', 1) AS host,
             '/' || array_to_string(
               str_split(split_part(split_part(url, '//', 2), '?', 1), '/')
                 [2:], '/') AS path,
             split_part(split_part(url, '?', 2), '#', 1) AS query,
             split_part(url, '#', 2) AS fragment,
             regexp_extract(url, 'id=([0-9]+)', 1) AS q_id
      FROM urls)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT query) AS BIGINT) AS n_queries,
           CAST(count(DISTINCT fragment) AS BIGINT) AS n_fragments,
           CAST(sum(CAST(q_id AS BIGINT)) AS BIGINT) AS sum_q_id
    FROM parts GROUP BY host
"""


@register(
    "fn_url_parse",
    _URLPARSE_SQL,
    "structured URL extraction with Spark's parse_url builtin (HOST / "
    "PATH / QUERY / REF / keyed QUERY('id')) over synthesized document "
    "URLs, aggregated per host — the extraction member of the URL "
    "suite (dedup_url_canon canonicalizes; this parses; reference S6 "
    "constructs). The oracle mirrors each component with split_part / "
    "regexp string algebra, proving the builtin against a "
    "from-first-principles decomposition. Map-only + one host agg",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("?id="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&page="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("#sec"),
            (F.col("doc_id") % 2).cast("string"),
        ).alias("url"),
    )
    parts = urls.select(
        "doc_id",
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY')").alias("query"),
        F.expr("parse_url(url, 'REF')").alias("fragment"),
        F.expr("parse_url(url, 'QUERY', 'id')").alias("q_id"),
    )
    return parts.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("path").cast("bigint").alias("n_paths"),
        F.countDistinct("query").cast("bigint").alias("n_queries"),
        F.countDistinct("fragment").cast("bigint").alias("n_fragments"),
        F.sum(F.col("q_id").cast("bigint")).cast("bigint").alias("sum_q_id"),
    )


# ---------------------------------------------------------------------------
# fn_ip_cidr
# ---------------------------------------------------------------------------

_IP_SQL = """
    WITH h AS (
      SELECT c_custkey,
             CAST(CAST(('0x' || substr(md5('ip|'
               || CAST(c_custkey AS VARCHAR)), 1, 12)) AS UBIGINT)
               AS BIGINT) AS hv
      FROM customer),
    ips AS (
      SELECT c_custkey,
             '10.' || CAST(hv % 16 AS VARCHAR)
                   || '.' || CAST((hv // 256) % 256 AS VARCHAR)
                   || '.' || CAST((hv // 65536) % 256 AS VARCHAR) AS ip
      FROM h),
    parsed AS (
      SELECT c_custkey, ip,
             CAST(split_part(ip, '.', 1) AS BIGINT) AS o1,
             CAST(split_part(ip, '.', 2) AS BIGINT) AS o2,
             CAST(split_part(ip, '.', 3) AS BIGINT) AS o3,
             CAST(split_part(ip, '.', 4) AS BIGINT) AS o4
      FROM ips),
    aton AS (
      SELECT c_custkey, ip, o2, o3,
             ((o1 * 256 + o2) * 256 + o3) * 256 + o4 AS addr
      FROM parsed)
    SELECT '10.' || CAST(o2 AS VARCHAR) || '.0.0/16' AS cidr16,
           CAST(count(*) AS BIGINT) AS n_ips,
           CAST(count(DISTINCT addr) AS BIGINT) AS n_uniq,
           CAST(count(DISTINCT o3) AS BIGINT) AS n_subnets24,
           CAST(min(addr) AS BIGINT) AS min_aton,
           CAST(max(addr) AS BIGINT) AS max_aton
    FROM aton GROUP BY 1
"""


@register(
    "fn_ip_cidr",
    _IP_SQL,
    "network-address analytics: synthesize an IPv4 per customer from "
    "the md5 stream (identical traffic on both engines — the universal "
    "sampler discipline), format the dotted quad, PARSE it back via "
    "split_part, convert to the 32-bit integer form (inet_aton), and "
    "roll up per /16 network: address count, distinct hosts, distinct "
    "/24 subnets, aton min/max — the scalar-function family member "
    "for network-log pipelines (fn_url_parse's sibling). The parse "
    "round-trip is the point: string -> octets -> integer must be "
    "lossless and engine-identical. Shape: map-only synthesis + one "
    "two-level hash-agg on the /16 prefix (16 groups); count(DISTINCT) "
    "expands to the standard two-phase partial agg",
)
def fn_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    h = cust.select(
        "c_custkey",
        md5_int(
            F.md5(F.concat(F.lit("ip|"), F.col("c_custkey").cast("string"))),
            12,
        ).alias("hv"),
    )
    ips = h.select(
        "c_custkey",
        F.concat(
            F.lit("10."),
            (F.col("hv") % 16).cast("string"),
            F.lit("."),
            F.expr("(hv div 256) % 256").cast("string"),
            F.lit("."),
            F.expr("(hv div 65536) % 256").cast("string"),
        ).alias("ip"),
    )
    parsed = ips.select(
        "c_custkey",
        "ip",
        F.expr("CAST(split_part(ip, '.', 1) AS BIGINT)").alias("o1"),
        F.expr("CAST(split_part(ip, '.', 2) AS BIGINT)").alias("o2"),
        F.expr("CAST(split_part(ip, '.', 3) AS BIGINT)").alias("o3"),
        F.expr("CAST(split_part(ip, '.', 4) AS BIGINT)").alias("o4"),
    )
    aton = parsed.select(
        "o2",
        "o3",
        (
            ((F.col("o1") * 256 + F.col("o2")) * 256 + F.col("o3")) * 256
            + F.col("o4")
        ).alias("addr"),
    )
    return aton.groupBy(
        F.concat(
            F.lit("10."), F.col("o2").cast("string"), F.lit(".0.0/16")
        ).alias("cidr16")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ips"),
        F.countDistinct("addr").cast("bigint").alias("n_uniq"),
        F.countDistinct("o3").cast("bigint").alias("n_subnets24"),
        F.min("addr").cast("bigint").alias("min_aton"),
        F.max("addr").cast("bigint").alias("max_aton"),
    )
