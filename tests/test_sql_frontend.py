"""SQL entry path: QUALIFY desugaring (the reference's three usage
shapes) and plain-SQL passthrough, differentially checked with the
DataFrame equivalents."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Window, functions as F

from logistics_data_pipeline_project_spark.io_utils import TABLES, load
from logistics_data_pipeline_project_spark.sql_frontend import desugar_qualify, run_sql


def test_plain_sql_passthrough(spark, sf_dir):
    df = run_sql(
        spark,
        "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name",
        sf_dir,
    )
    assert df.count() == 5
    assert df.columns == ["r_name", "n"]


def test_no_qualify_untouched():
    sql = "SELECT a FROM t WHERE b = 'QUALIFY literal untouched'"
    out, had = desugar_qualify(sql)
    assert not had and out == sql


def test_qualify_latest_record_dedup(spark, sf_dir):
    # the reference's latest-record-wins pattern
    # (dags/2_logistics-shipment-dag.py:112,121)
    # the predicate references output columns (the supported subset —
    # which is how the reference uses it: partitioning on projected aliases)
    sql = """
    SELECT event_id, user_id, ts, event_type FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """
    got = run_sql(spark, sql, sf_dir)
    assert got.columns == ["event_id", "user_id", "ts", "event_type"]

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("event_id", "user_id", "ts", "event_type")
    )
    assert {tuple(map(str, r)) for r in got.collect()} == {
        tuple(map(str, r)) for r in want.collect()
    }


def test_qualify_with_trailing_order_and_limit(spark, sf_dir):
    sql = """
    SELECT o_custkey, o_totalprice FROM orders
    QUALIFY RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) <= 2
    ORDER BY o_custkey, o_totalprice DESC LIMIT 10
    """
    got = run_sql(spark, sql, sf_dir).collect()
    assert len(got) == 10
    # differential: DuckDB supports QUALIFY natively
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = con.execute(sql).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_snowflake_function_rewrites():
    from logistics_data_pipeline_project_spark.sql_frontend import translate_snowflake

    assert (
        translate_snowflake("SELECT IFF(a, 'x', IFF(b, 'y', 'z'))")
        == "SELECT IF(a, 'x', IF(b, 'y', 'z'))"
    )
    assert (
        translate_snowflake("SELECT TRY_TO_TIMESTAMP_NTZ(s), TO_TIMESTAMP_NTZ(u)")
        == "SELECT TRY_TO_TIMESTAMP(s), TO_TIMESTAMP(u)"
    )
    # Snowflake DATEDIFF(day,...) counts boundary crossings → to_date form;
    # other units / 2-arg pass through untouched.
    assert (
        translate_snowflake("SELECT DATEDIFF(day, a, b), DATEDIFF(month, a, b)")
        == "SELECT DATEDIFF(TO_DATE(b), TO_DATE(a)), DATEDIFF(month, a, b)"
    )
    assert (
        translate_snowflake("SELECT TO_CHAR(d, 'YYYY-MM-DD HH24:MI:SS'), TO_CHAR(n)")
        == "SELECT DATE_FORMAT(d, 'yyyy-MM-dd HH:mm:ss'), CAST(n AS STRING)"
    )
    # rewrites leave string literals alone
    sql = "SELECT 'IFF(x, 1, 2) DATEDIFF(day, a, b)' AS s"
    assert translate_snowflake(sql) == sql


def test_snowflake_datediff_boundary_semantics(spark):
    # 20 minutes of elapsed time across midnight = 1 Snowflake day
    df = run_sql(
        spark,
        "SELECT DATEDIFF(day, TIMESTAMP'2024-01-01 23:50:00',"
        " TIMESTAMP'2024-01-02 00:10:00') AS d",
    )
    assert df.collect()[0]["d"] == 1


def test_snowflake_json_path(spark, sf_dir):
    # dags/2_logistics-shipment-dag.py:125-146 path-projection style over
    # the events.props VARIANT-as-string column
    got = run_sql(
        spark,
        "SELECT event_id, props:k::INT AS k FROM events ORDER BY event_id LIMIT 5",
        sf_dir,
    ).collect()
    want = run_sql(
        spark,
        "SELECT event_id, CAST(GET_JSON_OBJECT(props, '$.k') AS INT) AS k"
        " FROM events ORDER BY event_id LIMIT 5",
        sf_dir,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert all(r["k"] is not None for r in got)


def test_snowflake_split_to_table(spark, sf_dir):
    # dbt/.../customer_experience_summary.sql:16,22
    got = run_sql(
        spark,
        "SELECT TRIM(value) AS v FROM (SELECT ' a, b ,c' AS csv) t,"
        " TABLE(SPLIT_TO_TABLE(t.csv, ',')) s",
        sf_dir,
    )
    assert [r["v"] for r in got.collect()] == ["a", "b", "c"]


def test_snowflake_lateral_flatten(spark, sf_dir):
    # dags/2_logistics-shipment-dag.py:102-103 array-of-objects flatten +
    # per-element JSON path + lenient cast
    got = run_sql(
        spark,
        """SELECT f.value:sid::STRING AS sid, f.value:qty::INT AS qty
        FROM (SELECT '[{"sid":"s1","qty":3},{"sid":"s2","qty":4}]' AS j) raw,
        LATERAL FLATTEN(input => raw.j) f""",
        sf_dir,
    )
    assert [tuple(r) for r in got.collect()] == [("s1", 3), ("s2", 4)]


def test_scanner_skips_comments_and_quoted_identifiers():
    sql = (
        'SELECT "QUALIFYING" FROM t  -- a QUALIFY inside a comment\n'
        "WHERE x = 'QUALIFY me'"
    )
    out, had = desugar_qualify(sql)
    assert not had and out == sql

    sql2 = (
        "SELECT a FROM t -- comment before the clause\n"
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY a) = 1"
    )
    out2, had2 = desugar_qualify(sql2)
    assert had2 and "__qualify" in out2


@pytest.mark.parametrize(
    "sql, reference",
    [
        # the comma inside "a,b" is not an argument separator
        (
            """SELECT IFF("a,b" = 'a,b', 1, 2) AS v FROM scan_t""",
            """SELECT IF("a,b" = 'a,b', 1, 2) AS v FROM scan_t""",
        ),
        # the paren inside a comment does not unbalance the call
        (
            "SELECT IFF(a > 0, 1, 2 -- pick (one\n) AS v FROM scan_t",
            "SELECT IFF(a > 0, 1, 2\n) AS v FROM scan_t",
        ),
        # the comma inside a comment adds no DATEDIFF argument
        (
            "SELECT DATEDIFF(DAY, d1, d2 -- end, inclusive\n) AS v FROM scan_t",
            "SELECT DATEDIFF(DAY, d1, d2\n) AS v FROM scan_t",
        ),
    ],
    ids=["quoted_comma", "comment_paren", "comment_comma"],
)
def test_call_rewrites_skip_quoted_text_and_comments(spark, sql, reference):
    # 20 minutes across midnight: 1 Snowflake day, 0 full Spark days
    spark.sql(
        "SELECT 1 AS a, TIMESTAMP'2024-01-01 23:50:00' AS d1,"
        " TIMESTAMP'2024-01-02 00:10:00' AS d2"
    ).createOrReplaceTempView("scan_t")
    got = run_sql(spark, sql).collect()
    assert got == run_sql(spark, reference).collect()
    assert got[0]["v"] == 1


# ---------------------------------------------------------------------------
# MERGE INTO statement entry (the reference's raw-SQL merge form,
# dags/logistics-airbyte-sql.py:25-49)
# ---------------------------------------------------------------------------


def test_merge_sql_upserts_and_is_idempotent(spark, tmp_path):
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_merge_sql

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        "dim_customers",
        spark.createDataFrame(
            [(1, "alice", "2024-01-01"), (2, "bob", "2024-01-01")],
            "customer_id int, name string, updated_at string",
        ),
    )
    spark.createDataFrame(
        [(2, "robert", "2024-02-01"), (3, "cara", "2024-02-01")],
        "id int, name string, extracted_at string",
    ).createOrReplaceTempView("raw_customers")

    sql = """
    MERGE INTO silver.dim_customers AS tgt
    USING (SELECT id, name, extracted_at FROM raw_customers) AS src
    ON tgt.customer_id = src.id
    WHEN MATCHED THEN UPDATE SET name = src.name, updated_at = src.extracted_at
    WHEN NOT MATCHED THEN INSERT (customer_id, name, updated_at)
      VALUES (src.id, src.name, src.extracted_at)
    """
    out = run_merge_sql(spark, sql, store)
    got = {
        (r["customer_id"], r["name"], r["updated_at"]) for r in out.collect()
    }
    assert got == {
        (1, "alice", "2024-01-01"),
        (2, "robert", "2024-02-01"),
        (3, "cara", "2024-02-01"),
    }
    # re-running the same MERGE is a no-op (idempotent upsert)
    again = run_merge_sql(spark, sql, store)
    assert {
        (r["customer_id"], r["name"], r["updated_at"]) for r in again.collect()
    } == got


def test_merge_sql_strict_duplicate_source_errors(spark, tmp_path):
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_merge_sql

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        "t", spark.createDataFrame([(1, "x")], "k int, v string")
    )
    spark.createDataFrame(
        [(1, "a"), (1, "b")], "k int, v string"
    ).createOrReplaceTempView("dup_src")
    sql = """
    MERGE INTO t USING dup_src s ON t.k = s.k
    WHEN MATCHED THEN UPDATE SET v = s.v
    WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """
    # Snowflake errors on duplicate source matches; strict=True replicates
    with pytest.raises(ValueError, match="duplicate source"):
        run_merge_sql(spark, sql, store)


def test_merge_sql_delete_clause_and_snowflake_source_dialect(spark, tmp_path):
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_merge_sql

    store = TableStore(spark, str(tmp_path / "wh"))
    store.overwrite(
        "acct",
        spark.createDataFrame(
            [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01")],
            "k int, bal double, ts string",
        ),
    )
    spark.createDataFrame(
        [(1, 11.0, "2024-02-01", True, 1), (2, 99.0, "2024-02-01", False, 1),
         (2, 21.0, "2024-02-02", False, 2), (3, 30.0, "2024-02-01", False, 1)],
        "k int, bal double, ts string, is_deleted boolean, seq int",
    ).createOrReplaceTempView("cdc_acct")

    # source uses the Snowflake dialect (QUALIFY latest-record dedup, IFF)
    sql = """
    MERGE INTO acct AS t
    USING (
      SELECT k, IFF(bal < 0, 0.0, bal) AS bal, ts, is_deleted, seq FROM cdc_acct
      QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) = 1
    ) AS s
    ON t.k = s.k
    WHEN MATCHED AND s.is_deleted THEN DELETE
    WHEN MATCHED THEN UPDATE SET bal = s.bal, ts = s.ts
    WHEN NOT MATCHED THEN INSERT (k, bal, ts) VALUES (s.k, s.bal, s.ts)
    """
    out = run_merge_sql(spark, sql, store)
    got = {(r["k"], r["bal"], r["ts"]) for r in out.collect()}
    # k=1 deleted (is_deleted on latest), k=2 updated to latest seq row,
    # k=3 inserted
    assert got == {(2, 21.0, "2024-02-02"), (3, 30.0, "2024-02-01")}


def test_run_statement_view_ctas_insert_roundtrip(spark, tmp_path, sf_dir):
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_statement

    store = TableStore(spark, str(tmp_path / "wh"))

    # K3: gold-view DDL in the reference's style
    run_statement(
        spark,
        """CREATE OR REPLACE VIEW gold.nation_orders AS
           SELECT c_nationkey, COUNT(*) AS n
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY c_nationkey""",
        sf_dir=sf_dir,
    )
    assert spark.table("nation_orders").count() > 0

    # K4: CTAS full refresh through the atomic store
    run_statement(
        spark,
        "CREATE OR REPLACE TABLE gold.region_names AS SELECT r_name FROM region",
        store=store,
        sf_dir=sf_dir,
    )
    assert store.read("region_names").count() == 5

    # K2: INSERT INTO ... SELECT appends (with a column list remap)
    out = run_statement(
        spark,
        "INSERT INTO gold.region_names (r_name) SELECT r_name FROM region",
        store=store,
        sf_dir=sf_dir,
    )
    assert out.count() == 10


def test_run_script_multi_statement_task(spark, tmp_path, sf_dir):
    """A reference-style SQL task body: stage a view, CTAS a gold table
    from it, upsert a correction — three statements, one call."""
    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_script

    store = TableStore(spark, str(tmp_path / "wh"))
    out = run_script(
        spark,
        """
        CREATE OR REPLACE VIEW region_counts AS
          SELECT r_regionkey, r_name, COUNT(*) AS n
          FROM region GROUP BY r_regionkey, r_name;  -- stage

        CREATE OR REPLACE TABLE gold.region_counts_t AS
          SELECT * FROM region_counts;

        MERGE INTO gold.region_counts_t t
        USING (SELECT 0 AS r_regionkey, 'AFRICA (corrected)' AS r_name, 2 AS n) s
        ON t.r_regionkey = s.r_regionkey
        WHEN MATCHED THEN UPDATE SET r_name = s.r_name, n = s.n
        WHEN NOT MATCHED THEN INSERT (r_regionkey, r_name, n)
          VALUES (s.r_regionkey, s.r_name, s.n);
        """,
        store=store,
        sf_dir=sf_dir,
    )
    rows = {(r["r_regionkey"], r["r_name"], r["n"]) for r in out.collect()}
    assert (0, "AFRICA (corrected)", 2) in rows and len(rows) == 5


def test_copy_into_json_and_csv(spark, tmp_path):
    """The reference's bulk-load statement (COPY INTO ... FROM stage,
    dags/2_logistics-shipment-dag.py:83-86) through the dispatcher:
    JSON stage file into a fresh table, then a CSV batch appended, with
    @stage resolution against the landing root."""
    import json as _json
    import os

    from logistics_data_pipeline_project_spark.plans.materialize import TableStore
    from logistics_data_pipeline_project_spark.sql_frontend import run_statement

    store = TableStore(spark, str(tmp_path / "wh"))
    stage = tmp_path / "stage" / "logistics_json"
    os.makedirs(stage)
    with open(stage / "shipment_1.json", "w") as f:
        for row in ({"sid": "s1", "qty": 3}, {"sid": "s2", "qty": 4}):
            f.write(_json.dumps(row) + "\n")

    out = run_statement(
        spark,
        "COPY INTO bronze.shipment_raw"
        " FROM '@DEMO.BRONZE.STAGE/logistics_json/shipment_1.json'"
        " FILE_FORMAT = (TYPE = 'JSON')",
        store=store,
        stage_root=str(tmp_path / "stage"),
    )
    assert {(r["sid"], r["qty"]) for r in out.collect()} == {("s1", 3), ("s2", 4)}

    csvdir = tmp_path / "csv"
    os.makedirs(csvdir)
    (csvdir / "weather_1.csv").write_text("city,temp\npune,31\nmumbai,33\n")
    (csvdir / "other.csv").write_text("city,temp\nskip,0\n")
    out2 = run_statement(
        spark,
        f"COPY INTO weather_raw FROM '{csvdir}'"
        " FILE_FORMAT = (FORMAT_NAME = 'csv_fmt', TYPE = 'CSV', SKIP_HEADER = 1)"
        " PATTERN = '.*weather_.*\\.csv'",
        store=store,
    )
    assert {(r["city"], r["temp"]) for r in out2.collect()} == {
        ("pune", "31"),
        ("mumbai", "33"),
    }


# ---------------------------------------------------------------------------
# property tests: the statement parsers must be total over generated input
# ---------------------------------------------------------------------------


def test_parse_merge_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logistics_data_pipeline_project_spark.sql_frontend import parse_merge

    names = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,10}", fullmatch=True)

    @settings(max_examples=200, deadline=None)
    @given(
        tgt=names, t_alias=names, s_alias=names,
        keys=st.lists(names, min_size=1, max_size=3, unique=True),
        upd=st.lists(names, min_size=1, max_size=3, unique=True),
    )
    def check(tgt, t_alias, s_alias, keys, upd):
        # aliases must differ from each other for unambiguous ON parsing
        if t_alias.lower() == s_alias.lower():
            s_alias = s_alias + "_s"
        reserved = {"on", "when", "using", "as", "merge", "into", "and", "then",
                    "update", "set", "insert", "values", "not", "matched", "delete"}
        if {t_alias.lower(), s_alias.lower()} & reserved:
            return
        on = " AND ".join(f"{t_alias}.{k} = {s_alias}.{k}" for k in keys)
        sets = ", ".join(f"{c} = {s_alias}.{c}" for c in upd)
        cols = ", ".join(keys + upd)
        vals = ", ".join(f"{s_alias}.{c}" for c in keys + upd)
        sql = (
            f"MERGE INTO {tgt} AS {t_alias}\n"
            f"USING (SELECT * FROM src_tbl) AS {s_alias}\n"
            f"ON {on}\n"
            f"WHEN MATCHED THEN UPDATE SET {sets}\n"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )
        parsed = parse_merge(sql)
        assert parsed["target"] == tgt
        assert [k for k, _ in parsed["keys"]] == keys
        assert set(parsed["update_set"]) == set(upd)
        for c in upd:
            assert parsed["update_set"][c] == f"s.{c}"
        assert parsed["insert_cols"] == keys + upd
        assert parsed["insert_vals"] == [f"s.{c}" for c in keys + upd]

    check()


def test_split_statements_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logistics_data_pipeline_project_spark.sql_frontend import _split_statements

    # statements made of benign words, literals with embedded semicolons,
    # and trailing comments must split back into the same count
    word = st.from_regex(r"[A-Za-z0-9_]{1,8}", fullmatch=True)
    lit = st.from_regex(r"[A-Za-z0-9;\- ]{0,12}", fullmatch=True)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(word, lit, word), min_size=1, max_size=5))
    def check(parts):
        stmts = [f"SELECT {a}, '{b}' FROM {c}" for a, b, c in parts]
        script = ";\n-- trailing ; comment\n".join(stmts) + ";"
        got = _split_statements(script)
        assert len(got) == len(stmts)
        for g, want in zip(got, stmts):
            assert g.startswith("SELECT")
            assert want.split("FROM")[1].strip() in g

    check()
