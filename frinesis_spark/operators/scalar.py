"""Scalar expression surface: string/date/math functions, array/map/JSON
collection functions, and the Python-UDF path (SURVEY.md §2B rows
``scalar_string_date_math`` / ``scalar_array_map_json`` / ``udf_python``).

All scalar work is per-row and embarrassingly parallel; the only scale
concern is staying inside whole-stage codegen — which every expression
here does except the deliberate ``udf_python`` demo, which uses an
Arrow-vectorized pandas UDF (the sanctioned slow path, ~10-100× faster
than row-at-a-time Python UDFs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frinesis_spark.catalog import register_views, table
from frinesis_spark.functions.numeric import dsum, oracle_dsum


def _strict_long(c: Column) -> Column:
    """Integer-literal-gated long conversion shared by the JSON and
    VARIANT operators: only ``^[+-]?[0-9]+\\z``-anchored integer
    strings convert, everything else is NULL. TRY_CAST alone is not
    enough — DuckDB's rounds '3.5' where Spark NULLs it, and a bare
    ANSI cast crashes the job. One definition so the two operators'
    k-parsing contracts cannot drift apart. ``\\z`` end anchor, NOT
    ``$``: Java's ``$`` matches before a FINAL line terminator
    ('123\\n' passes the gate and try_cast trims it to 123) while
    RE2's matches end-of-text only — a crafted trailing-newline value
    diverged the engines (r9 review wave 2); ``\\z`` is strict
    end-of-text in BOTH dialects (probed)."""
    return F.when(c.rlike("^[+-]?[0-9]+\\z"), c).try_cast("long")


def q_scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar functions over `orders`.

    Functions chosen to be bit-deterministic across engines: IEEE sqrt
    is correctly-rounded, floor/ceil/abs are exact, date parts are
    integers. (Avoids pow/ln whose libm implementations may differ in
    ulps between JVM and DuckDB.)
    """
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.concat_ws("|", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "status_prio"
        ),
        F.length(F.col("o_orderpriority")).cast("long").alias("prio_len"),
        F.year(F.col("o_orderdate")).cast("long").alias("order_year"),
        F.month(F.col("o_orderdate")).cast("long").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.datediff(
            F.to_timestamp(F.lit("2002-01-01")), F.col("o_orderdate")
        ).cast("long").alias("days_to_2002"),
        F.abs(F.col("o_totalprice") - 1000.0).alias("abs_price_delta"),
        F.sqrt(F.col("o_totalprice")).alias("price_sqrt"),
        F.floor(F.col("o_totalprice")).cast("long").alias("price_floor"),
        F.ceil(F.col("o_totalprice") / 100.0).cast("long").alias("price_centi_ceil"),
    )


def q_scalar_array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection functions: split/size/array_contains on `documents`,
    JSON extraction + from_json→map on `events.props`.

    The map column is parsed with ``from_json`` into map<string,string>
    (JVM-side Jackson, codegen) — no Python in the loop. String values,
    then per-key casts: see the inline note on oracle NULL parity.
    """
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "events")
    words = F.split(F.col("text"), " ")
    doc_side = d.select(
        F.col("doc_id").alias("row_id"),
        F.size(words).cast("long").alias("n_tokens"),
        F.array_contains(words, "data").alias("mentions_data"),
        F.element_at(words, 1).alias("first_token"),
    )
    # Parsed as map<string,STRING>, not map<string,long> (ADVICE r5): a
    # long-valued parse nulls the ENTIRE map if ANY props value is not a
    # long (string, nested object), which would null n_keys/k_map while
    # the oracle's JSON_KEYS still counts keys and its per-key extract
    # still extracts. String values are lossless for key counting. The
    # per-key long conversion is guarded by an INTEGER-LITERAL regex on
    # both engines before the cast: bare try_cast/TRY_CAST disagree on
    # non-integral numeric strings (Spark try_cast('3.5' as long) =
    # NULL, DuckDB TRY_CAST('3.5' AS BIGINT) = 4 — it rounds), so the
    # regex gate makes "digits only, else NULL" the contract by
    # construction; try_cast after the gate still turns BIGINT overflow
    # into NULL identically. One Jackson pass, JVM codegen throughout.
    props_map = F.from_json(
        F.col("props"), T.MapType(T.StringType(), T.StringType())
    )
    event_side = e.select(
        F.col("event_id").alias("row_id"),
        _strict_long(F.get_json_object(F.col("props"), "$.k")).alias("k_json"),
        _strict_long(F.element_at(props_map, "k")).alias("k_map"),
        F.size(F.map_keys(props_map)).cast("long").alias("n_keys"),
    )
    # Two differently-shaped scalar exercises, one per source table.
    return doc_side.join(event_side, "row_id", "inner").select(
        "row_id", "n_tokens", "mentions_data", "first_token", "k_json", "k_map", "n_keys"
    )


@F.pandas_udf(T.DoubleType())
def _net_revenue_udf(
    extended: pd.Series, discount: pd.Series, tax: pd.Series
) -> pd.Series:
    """Arrow-vectorized pandas UDF: net revenue per lineitem.

    Same IEEE double ops as the SQL expression, so per-row results are
    bit-identical to the oracle's ``l_extendedprice*(1-l_discount)*(1+l_tax)``.
    """
    return extended * (1.0 - discount) * (1.0 + tax)


def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF surface: vectorized pandas UDF in the hot path, then a
    decimal-exact aggregate so the fold order can't break parity.

    Scale note: Arrow batches (default 10k rows) amortize the
    Python hop; still ~5× slower than pure codegen — use only for
    logic Catalyst can't express.
    """
    li = table(spark, sf_dir, "lineitem")
    net = _net_revenue_udf(
        F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    )
    return (
        li.withColumn("net_revenue", net)
        .groupBy("l_returnflag")
        .agg(
            dsum(F.col("net_revenue")).alias("sum_net_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_scalar_conditional_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional + regex scalar surface: CASE WHEN, coalesce/nullif,
    greatest/least, and regexp extract/replace/match over `orders`.

    Regex patterns kept to the POSIX-compatible subset (character
    classes, anchors, groups) where Java and RE2-style engines agree.
    All codegen'd, per-row, no shuffle.
    """
    o = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(price < 50_000, F.lit("small"))
        .when(price < 200_000, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("NP"))
        .alias("status_or_np"),
        F.greatest(price, F.lit(100_000.0)).alias("price_floor100k"),
        F.least(price, F.lit(100_000.0)).alias("price_cap100k"),
        # No-match contract pinned NULL on both engines: Spark's
        # regexp_extract returns '' on no match and a bare ANSI cast
        # of '' to long KILLS the job (the r6/r7/r8 job-kill class —
        # the fixture's priorities always match, so only crafted data
        # ever sees it); nullif('')+try_cast makes no-match → NULL
        # regardless of each engine's no-match representation.
        F.nullif(
            F.regexp_extract(F.col("o_orderpriority"), "^([0-9]+)-", 1),
            F.lit(""),
        )
        .try_cast("long")
        .alias("prio_num"),
        F.regexp_replace(F.col("o_orderpriority"), "[^A-Z]", "")
        .alias("prio_letters"),
        # \z, not $ — same end-anchor dialect divergence as
        # _strict_long (Java $ matches before a trailing newline).
        F.col("o_orderpriority").rlike("URGENT\\z").alias("is_urgent_suffix"),
    )


# Passage chunking geometry: 50-token windows advancing by 40 (10-token
# overlap) — the standard embedding-pipeline chunker shape.
_CHUNK_TOKENS = 50
_CHUNK_STRIDE = 40


def q_udtf_table_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage chunking via a Python UDTF (user-defined *table*
    function): each document lateral-expands into overlapping
    50-token / stride-40 chunks — the doc→passage step every
    embedding/RAG pipeline runs before vectorizing.

    This is the third member of the UDF surface (scalar pandas UDF in
    ``udf_python``, grouped-map ``applyInPandas`` in the dedup/ANN
    ops): a one-row→many-rows generator the SQL layer consumes with
    ``LATERAL``. Arrow-optimized (``useArrow=True``) so rows cross to
    Python in batches. Scale is the same story as every generator:
    map-only, no shuffle; output volume = chunks, bounded by
    corpus_tokens / stride. Chunking itself is pure string slicing —
    a production pipeline swaps in a real tokenizer here, which is
    exactly why this one stays a Python UDTF instead of a Catalyst
    ``sequence``/``slice`` expression (that rewrite is the
    ``explode_token_freq`` family; this row exercises the UDTF path).
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_idx int, chunk_text string,"
        " n_tokens int",
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, text):
            # NULL text yields no chunks — aligned with the oracle's
            # explicit `WHERE text IS NOT NULL` (ADVICE r4: the old
            # `text or ""` fallback emitted one empty chunk while
            # DuckDB's string_split propagated NULL).
            if text is None:
                return
            toks = text.split(" ")
            n = len(toks)
            for idx, s in enumerate(
                range(1, max(n, 1) + 1, _CHUNK_STRIDE)
            ):
                sub = toks[s - 1 : s - 1 + _CHUNK_TOKENS]
                yield doc_id, idx, " ".join(sub), len(sub)

    spark.udtf.register("chunk_doc", ChunkDoc)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM documents d, LATERAL chunk_doc(d.doc_id, d.text) c
        """
    )


def q_scalar_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface: build a nested JSON payload per
    event, parse it to a VARIANT, shred typed fields back out with
    ``variant_get`` path expressions (object / nested object / array
    index), and aggregate on the shredded columns.

    VARIANT is Spark 4's store-semi-structured/shred-at-read type (the
    Parquet variant story): at 100 TB the payload column stays one
    binary blob per row — no schema evolution on ingest — while typed
    extraction happens in the scan projection, map-only and
    codegen'd. The aggregate on shredded (string, long) columns is an
    ordinary partial-agg shuffle. Oracle: DuckDB runs the same
    construct-then-extract chain through its JSON functions — numeric
    roundtrip is exact (integers), so hashes must match.
    """
    e = table(spark, sf_dir, "events")
    k_str = F.get_json_object(F.col("props"), "$.k")
    # Rows without a $.k key are dropped explicitly on BOTH sides
    # (ADVICE r4): Spark's concat nulls the whole payload on a NULL
    # argument while DuckDB's CONCAT skips NULLs — aligning by filter
    # is exact, aligning the concat semantics is not.
    #
    # r7 differential finds (the ANSI job-kill class again): the
    # ``k * 2`` cast was a bare ANSI cast, so ONE non-integer k value
    # ('3.5', 'notanumber', true) crashed the whole job; AND a raw
    # signed/zero-padded string k ('+5', '007') interpolated into the
    # payload produced MALFORMED JSON ('"k":+5'), crashing parse_json.
    # The contract is the integer-literal gate scalar_array_map_json
    # established — only integral-k rows participate, on both
    # engines — plus a doubling-safe magnitude bound (|k| < 2^62) so
    # the *2 can't overflow BIGINT on either engine (both would
    # raise), and the payload interpolates the NORMALIZED integer
    # (k_norm), never the raw string, so it is valid JSON by
    # construction.
    # Two-sided range compare, NOT abs(): ABS(LONG_MIN) itself raises
    # ARITHMETIC_OVERFLOW on both engines — the guard must not be a
    # member of the job-kill class it guards against.
    k_long = _strict_long(k_str)
    # event_type IS NOT NULL on BOTH sides (r9 review wave 2): a NULL
    # interpolated into the payload diverges the engines (Spark concat
    # nulls the whole payload → NULL vtype group; DuckDB CONCAT skips
    # the NULL → '' vtype group). And the payload is built with
    # to_json(struct(...)) ≙ json_object — never raw string concat —
    # so an event_type containing a quote or backslash is ESCAPED
    # instead of producing malformed JSON that kills parse_json (the
    # same job-kill class the k gate closed in r7).
    e = e.where(
        k_long.isNotNull()
        & F.col("event_type").isNotNull()
        & (k_long > F.lit(-(2**62)))
        & (k_long < F.lit(2**62))
    )
    payload = F.to_json(
        F.struct(
            F.struct(F.col("event_type").alias("type")).alias("meta"),
            k_long.alias("k"),
            F.array(k_long, k_long * 2).alias("ks"),
        )
    )
    v = F.parse_json(payload)
    shred = e.select(
        F.variant_get(v, "$.meta.type", "string").alias("vtype"),
        F.variant_get(v, "$.k", "long").alias("k"),
        F.variant_get(v, "$.ks[1]", "long").alias("k2"),
    )
    return shred.groupBy("vtype").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.sum("k2").alias("sum_k2"),
        F.max("k").alias("max_k"),
    )


QUERIES = {
    "scalar_string_date_math": q_scalar_string_date_math,
    "scalar_array_map_json": q_scalar_array_map_json,
    "scalar_conditional_regex": q_scalar_conditional_regex,
    "udf_python": q_udf_python,
    "udtf_table_chunks": q_udtf_table_chunks,
    "scalar_variant_shred": q_scalar_variant_shred,
}

ORACLE = {
    "udtf_table_chunks": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE text IS NOT NULL
        ), starts AS (
            SELECT doc_id, t,
                   UNNEST(generate_series(1, GREATEST(len(t), 1),
                                          {_CHUNK_STRIDE})) AS s
            FROM toks
        )
        SELECT doc_id,
               CAST((s - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
               array_to_string(t[s : s + {_CHUNK_TOKENS} - 1], ' ')
                   AS chunk_text,
               CAST(len(t[s : s + {_CHUNK_TOKENS} - 1]) AS INTEGER)
                   AS n_tokens
        FROM starts
    """,
    "scalar_variant_shred": r"""
        WITH payloads AS (
            -- json_object mirrors the Spark side's to_json(struct):
            -- proper escaping of event_type (a quote/backslash must
            -- not produce malformed JSON) and the NORMALIZED integer
            -- (raw '+5'/'007' would be malformed)
            SELECT json_object(
                       'meta', json_object('type', event_type),
                       'k', TRY_CAST(json_extract_string(props, '$.k')
                                     AS BIGINT),
                       'ks', json_array(
                           TRY_CAST(json_extract_string(props, '$.k')
                                    AS BIGINT),
                           TRY_CAST(json_extract_string(props, '$.k')
                                    AS BIGINT) * 2)
                   ) AS payload
            FROM events
            -- integer-literal gate + doubling-safe bound, mirroring
            -- the Spark side (r7): non-integral k must drop the row,
            -- never crash the job or round through TRY_CAST;
            -- NULL event_type dropped on both sides (r9)
            WHERE event_type IS NOT NULL
              AND json_extract_string(props, '$.k') IS NOT NULL
              AND REGEXP_MATCHES(json_extract_string(props, '$.k'),
                                 '^[+-]?[0-9]+\z')
              AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  IS NOT NULL
              -- two-sided range, not ABS: ABS(LONG_MIN) raises on
              -- both engines (the job-kill class this gate exists
              -- to keep out)
              AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  > -4611686018427387904
              AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                  < 4611686018427387904
        )
        SELECT json_extract_string(payload, '$.meta.type') AS vtype,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(payload, '$.k')
                             AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(json_extract_string(payload, '$.ks[1]')
                             AS BIGINT)) AS BIGINT) AS sum_k2,
               MAX(CAST(json_extract_string(payload, '$.k') AS BIGINT))
                   AS max_k
        FROM payloads
        GROUP BY 1
    """,
    "scalar_string_date_math": """
        SELECT o_orderkey,
               UPPER(o_orderstatus) AS status_upper,
               SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
               CONCAT_WS('|', o_orderstatus, o_orderpriority) AS status_prio,
               CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
               CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
               CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
               DATE_TRUNC('month', o_orderdate) AS order_month_start,
               CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE),
                              DATE '2002-01-01') AS BIGINT) AS days_to_2002,
               ABS(o_totalprice - 1000.0) AS abs_price_delta,
               SQRT(o_totalprice) AS price_sqrt,
               CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
               CAST(CEIL(o_totalprice / 100.0) AS BIGINT) AS price_centi_ceil
        FROM orders
    """,
    "scalar_array_map_json": r"""
        WITH doc_side AS (
            SELECT doc_id AS row_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
                   LIST_CONTAINS(STRING_SPLIT(text, ' '), 'data') AS mentions_data,
                   STRING_SPLIT(text, ' ')[1] AS first_token
            FROM documents
        ), event_side AS (
            SELECT event_id AS row_id,
                   -- Integer-literal regex gate before the cast on
                   -- BOTH engines (nulls that key only, ADVICE r5):
                   -- bare TRY_CAST would ROUND '3.5' to 4 here while
                   -- Spark's try_cast nulls it (r6 review fix)
                   TRY_CAST(CASE WHEN REGEXP_MATCHES(
                       JSON_EXTRACT_STRING(props, '$.k'), '^[+-]?[0-9]+\z')
                       THEN JSON_EXTRACT_STRING(props, '$.k') END
                       AS BIGINT) AS k_json,
                   TRY_CAST(CASE WHEN REGEXP_MATCHES(
                       JSON_EXTRACT_STRING(props, '$.k'), '^[+-]?[0-9]+\z')
                       THEN JSON_EXTRACT_STRING(props, '$.k') END
                       AS BIGINT) AS k_map,
                   -- derived from the JSON itself (ADVICE r4), not a
                   -- literal 1: fixture-schema drift now shows up as a
                   -- value diff here, not a confusing hash mismatch
                   CAST(LEN(JSON_KEYS(props)) AS BIGINT) AS n_keys
            FROM events
        )
        SELECT d.row_id, n_tokens, mentions_data, first_token, k_json, k_map, n_keys
        FROM doc_side d JOIN event_side e ON d.row_id = e.row_id
    """,
    "scalar_conditional_regex": r"""
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 200000 THEN 'medium'
                    ELSE 'large' END AS price_band,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'NP') AS status_or_np,
               GREATEST(o_totalprice, 100000.0) AS price_floor100k,
               LEAST(o_totalprice, 100000.0) AS price_cap100k,
               TRY_CAST(NULLIF(REGEXP_EXTRACT(o_orderpriority,
                                               '^([0-9]+)-', 1), '')
                   AS BIGINT) AS prio_num,
               REGEXP_REPLACE(o_orderpriority, '[^A-Z]', '', 'g') AS prio_letters,
               REGEXP_MATCHES(o_orderpriority, 'URGENT\z') AS is_urgent_suffix
        FROM orders
    """,
    "udf_python": f"""
        SELECT l_returnflag,
               {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
                   AS sum_net_revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
}
