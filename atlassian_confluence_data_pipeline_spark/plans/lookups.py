"""Small-operator coverage (SURVEY.md §2.1-2.2, §2.8): point lookups,
first-match picks, null/comment guards, EXISTS booleans, and the state
MERGE rendered as an oracle-checkable query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.catalog import load_table
from atlassian_confluence_data_pipeline_spark.plans.registry import query

# ---------------------------------------------------------------------------
# S1 — point lookup by key
# ---------------------------------------------------------------------------


@query(
    "point_lookup_order",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderkey = 100
""",
    tags=("scan", "lookup"),
)
def point_lookup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup S1 (get_page_by_id, confluence_client.py:236-250):
    equality predicate on the key, pushed into the Parquet scan
    (row-group min/max pruning skips everything else)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 100)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# S2/W1 — first match by secondary key
# ---------------------------------------------------------------------------


@query(
    "first_part_per_type",
    oracle="""
SELECT p_type, p_partkey, p_name
FROM (
  SELECT p_type, p_partkey, p_name,
         row_number() OVER (PARTITION BY p_type ORDER BY p_partkey) AS rn
  FROM part
) WHERE rn = 1
""",
    tags=("scan", "lookup", "window"),
)
def first_part_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index first-match S2 (get_page_by_title takes
    results[0], confluence_client.py:272-273) made deterministic: the
    min-key row per type via row_number — the engine's W1 operator."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy("p_partkey")
    return (
        part.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("p_type", "p_partkey", "p_name")
    )


# ---------------------------------------------------------------------------
# K3 — state MERGE as a checkable query
# ---------------------------------------------------------------------------


@query(
    "state_merge_orders",
    oracle="""
WITH state AS (
  SELECT o_custkey AS id, max(o_orderkey) AS version
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01' GROUP BY 1
), updates AS (
  SELECT o_custkey AS id, max(o_orderkey) AS version
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01' GROUP BY 1
)
SELECT s.id, s.version FROM state s
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.id = s.id)
UNION ALL
SELECT id, version FROM updates
""",
    tags=("state", "merge", "cdc"),
)
def state_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ledger MERGE K3 (state_manager.py:84-102) as a query: matched
    keys take the update's version, unmatched survive, new keys insert —
    via the merge_state operator (one priority window over state ∪
    updates: update rows first, then the highest version)."""
    from atlassian_confluence_data_pipeline_spark.operators.state import merge_state

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    state = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(F.max("o_orderkey").alias("version"))
    )
    updates = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(F.max("o_orderkey").alias("version"))
    )
    return merge_state(state, updates, key="id", version_col="version")


# ---------------------------------------------------------------------------
# P4 — null/shape guards
# ---------------------------------------------------------------------------


@query(
    "valid_props_stats",
    oracle="""
SELECT event_type,
       count(*) AS n_valid,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events
WHERE props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
GROUP BY 1
""",
    tags=("filter", "guard", "json"),
)
def valid_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/shape guard P4 (skip pages lacking body.storage.value,
    html_generator.py:41-43): rows pass only with a present, parseable
    payload field."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.filter(F.col("props").isNotNull() & k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_valid"),
            F.min(k.cast("int")).cast("int").alias("min_k"),
            F.max(k.cast("int")).cast("int").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# P5 — comment/blank-line filter
# ---------------------------------------------------------------------------


@query(
    "cookie_file_lines",
    oracle="""
WITH lines AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN concat('# comment ', source)
              WHEN doc_id % 7 = 0 THEN ''
              ELSE concat(source, '=', CAST(doc_id AS VARCHAR)) END AS line
  FROM documents
)
SELECT doc_id, line FROM lines
WHERE line <> '' AND NOT starts_with(line, '#')
""",
    tags=("filter", "string"),
)
def cookie_file_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment/blank-line filter P5 (cookie-file parsing skips '#' lines,
    secure_cookie_manager.py:177)."""
    docs = load_table(spark, sf_dir, "documents")
    line = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("# comment "), F.col("source")))
        .when(F.col("doc_id") % 7 == 0, F.lit(""))
        .otherwise(F.concat(F.col("source"), F.lit("="), F.col("doc_id").cast("string")))
    )
    return (
        docs.select("doc_id", line.alias("line"))
        .filter((F.col("line") != "") & (~F.col("line").startswith("#")))
    )


# ---------------------------------------------------------------------------
# A4/J2 — EXISTS-style boolean aggregate
# ---------------------------------------------------------------------------


@query(
    "nation_has_high_balance",
    oracle="""
SELECT n.n_name AS n_name,
       CAST(coalesce(max(CASE WHEN c.c_acctbal > 9000 THEN 1 ELSE 0 END), 0) AS INT)
         AS has_high_balance,
       count(c.c_custkey) AS n_customers
FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
    tags=("agg", "exists", "join"),
)
def nation_has_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style boolean aggregate A4 (the reference's any(...) space
    check, master_script.py:418-421): max(when(cond,1)) per group, with
    left-join nations that have no customers at all."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("c_acctbal") > 9000, 1).otherwise(0)), F.lit(0)
            )
            .cast("int")
            .alias("has_high_balance"),
            F.count("c_custkey").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# F1-F3 through the registry (pandas UDF; rows-only)
# ---------------------------------------------------------------------------


@query(
    "clean_documents_html",
    oracle="""
SELECT doc_id,
       concat(
         '<img src="https://example.org/wiki/download/attachments/',
         CAST(doc_id AS VARCHAR),
         '/img.png" style="display: block; margin-left: auto; margin-right: auto;"/><p>',
         substr(text, 1, 60),
         '</p><pre class="code-block" data-language="sql"><code>SELECT 1</code></pre>'
       ) AS html
FROM documents
""",
    tags=("html", "udf", "pandas"),
)
def clean_documents_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOM-rewrite chain F1-F3 as the registry sees it: synthesize
    Confluence-storage-format bodies from documents, run the
    Arrow-batched clean_html pandas UDF, substitute PAGE_ID. The body is
    templated (script + ac:image + text snippet + code macro), so the
    UDF's expected end-to-end output — script dropped, image macro
    rewritten to an absolutized <img> with the PAGE_ID substituted, code
    macro to <pre><code>, CDATA stripped — is a deterministic SQL concat:
    the oracle IS the golden test, hash-checked per document. Free-form
    DOM inputs stay covered by tests/test_html_functions.py."""
    from atlassian_confluence_data_pipeline_spark.functions.html import (
        make_clean_html_udf,
    )
    from atlassian_confluence_data_pipeline_spark.functions.text import (
        substitute_page_id,
    )

    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.lit('<script>track()</script><ac:image ac:align="center">'
              '<ri:attachment ri:filename="img.png"/></ac:image><p>'),
        F.substring("text", 1, 60),
        F.lit('</p><ac:structured-macro ac:name="code">'
              '<ac:parameter ac:name="language">sql</ac:parameter>'
              "<ac:plain-text-body><![CDATA[SELECT 1]]></ac:plain-text-body>"
              "</ac:structured-macro>"),
    )
    udf = make_clean_html_udf("https://example.org/wiki")
    return docs.select(
        "doc_id",
        substitute_page_id(udf(body), F.col("doc_id")).alias("html"),
    )
