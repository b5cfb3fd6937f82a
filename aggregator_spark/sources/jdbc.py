"""JDBC publishing (the reference's RDS sink).

Reference stage 2 publishes 9 tables to Postgres (reference
main.py:272-276) via ``psql \\COPY`` subprocesses (main.py:304-309) —
here it's ``df.write.jdbc`` which streams partitions in parallel from
the executors, no driver round-trip, no subprocess.

The constraint/index DDL of the reference (main.py:499-552) is kept as
STRUCTURED data (tables/columns/names) from which per-dialect SQL is
generated: ``CONSTRAINT_DDL``/``INDEX_DDL`` are the canonical Postgres
strings (1:1 with the reference), and the ``derby`` dialect emits
quoted-identifier, named-PK forms for the embedded Apache Derby that
ships on Spark's classpath — which is what lets the publish path run
against a REAL database in this container (``execute_ddl`` below; e2e
test in tests/test_jdbc_live.py asserts the reference's 17 constraint
names exactly like tests/aggregation_tests.py:458-486 does). At deploy
time against RDS it's ``--jars postgresql-*.jar`` and the postgres
strings.

Spark neither needs nor enforces PK/FK/indexes; behavioral FK integrity
is preserved by the repair operators (aggregator_spark.operators.repair)
— the DDL exists so a serving DB can reproduce the reference's schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the reference applies every cube-templated statement once per
# granularity (main.py:379-384 create_or_update_cubes)
from aggregator_spark.operators.cube import GRANULARITIES


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict | None = None,
    batchsize: int = 10_000,
) -> None:
    props = {"batchsize": str(batchsize)}
    props.update(properties or {})
    df.write.jdbc(url=url, table=table, mode=mode, properties=props)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
) -> DataFrame:
    return spark.read.jdbc(url=url, table=table, properties=properties or {})


# 4 primary keys (reference main.py:499-503). Postgres auto-names them
# <table>_pkey — the names the reference's own test asserts
# (tests/aggregation_tests.py:462) — so the derby dialect names them
# explicitly to match.
PRIMARY_KEYS: list[tuple[str, str]] = [
    ("dim_risk", "id"),
    ("dim_country", "id"),
    ("dim_asn", "number"),
    ("dim_date", "date"),
]

# 13 named foreign keys (reference main.py:505-527):
# (table, constraint_name, column, ref_table, ref_column)
FOREIGN_KEYS: list[tuple[str, str, str, str, str]] = [
    ("dim_asn", "fk_country_asn", "country", "dim_country", "id"),
    ("fact_count", "fk_count_risk", "risk", "dim_risk", "id"),
    ("fact_count", "fk_count_country", "country", "dim_country", "id"),
    ("fact_count", "fk_count_asn", "asn", "dim_asn", "number"),
    ("fact_count", "fk_count_time", "date", "dim_date", "date"),
] + [
    (f"agg_risk_country_{t}", f"fk_cube_{kind}_{t}", col, ref_t, ref_c)
    for t in GRANULARITIES
    for kind, col, ref_t, ref_c in (
        ("risk", "risk", "dim_risk", "id"),
        ("country", "country", "dim_country", "id"),
    )
]

# 27 indexes, 1:1 with reference main.py:530-552: seven on fact_count
# (serving-API paths) and five per cube granularity. On the Spark side
# the analogue is partitionBy('date') at write time (plans/stage2.py).
# (index_name, table, [(column, is_desc), ...])
INDEXES: list[tuple[str, str, list[tuple[str, bool]]]] = [
    ("idx_date_country", "fact_count", [("date", True), ("country", False)]),
    ("idx_all", "fact_count",
     [("date", False), ("country", False), ("risk", False), ("asn", False)]),
    ("idx_all_desc", "fact_count",
     [("date", True), ("country", False), ("risk", False), ("asn", False)]),
    ("idx_risk", "fact_count", [("risk", False)]),
    ("idx_asn", "fact_count", [("asn", False)]),
    ("idx_country", "fact_count", [("country", False)]),
    ("idx_date", "fact_count", [("date", False)]),
] + [
    entry
    for t in GRANULARITIES
    for entry in (
        (f"idx_all_cube_{t}", f"agg_risk_country_{t}",
         [("date", False), ("country", False), ("risk", False)]),
        (f"idx_all_desc_cube_{t}", f"agg_risk_country_{t}",
         [("date", True), ("country", False), ("risk", False)]),
        (f"idx_risk_cube_{t}", f"agg_risk_country_{t}", [("risk", False)]),
        (f"idx_country_cube_{t}", f"agg_risk_country_{t}",
         [("country", False)]),
        (f"idx_date_cube_{t}", f"agg_risk_country_{t}", [("date", False)]),
    )
]


def _q(ident: str, dialect: str) -> str:
    """Identifier quoting. postgres: bare (the reference's own DDL is
    unquoted lowercase, which Postgres folds to itself). derby: quoted
    — Derby folds unquoted identifiers to UPPER, while Spark's JDBC
    writer quotes lowercase names as-is, so the DDL must quote to hit
    the same tables; quoting also covers the reserved word ``date``."""
    return f'"{ident}"' if dialect == "derby" else ident


def constraint_ddl(dialect: str = "postgres") -> list[str]:
    out = []
    for table, col in PRIMARY_KEYS:
        if dialect == "derby":
            # name the PK what Postgres would auto-name it, so the
            # 17-name parity check is dialect-independent
            out.append(
                f'ALTER TABLE {_q(table, dialect)} ADD CONSTRAINT '
                f'"{table}_pkey" PRIMARY KEY ({_q(col, dialect)})'
            )
        else:
            out.append(f"ALTER TABLE {table} ADD PRIMARY KEY ({col})")
    for table, name, col, ref_t, ref_c in FOREIGN_KEYS:
        out.append(
            f"ALTER TABLE {_q(table, dialect)} ADD CONSTRAINT "
            + (f'"{name}"' if dialect == "derby" else name)
            + f" FOREIGN KEY ({_q(col, dialect)}) "
            f"REFERENCES {_q(ref_t, dialect)}({_q(ref_c, dialect)})"
        )
    return out


def index_ddl(dialect: str = "postgres") -> list[str]:
    out = []
    for name, table, cols in INDEXES:
        collist = ", ".join(
            _q(c, dialect) + (" DESC" if desc else "") for c, desc in cols
        )
        out.append(
            f"CREATE INDEX "
            + (f'"{name}"' if dialect == "derby" else name)
            + f" ON {_q(table, dialect)}({collist})"
        )
    return out


# canonical Postgres strings, 1:1 with reference main.py:499-552
CONSTRAINT_DDL = constraint_ddl("postgres")
INDEX_DDL = index_ddl("postgres")


def execute_ddl(
    spark: SparkSession, url: str, statements: list[str]
) -> None:
    """Run DDL over a real JDBC connection from the driver JVM (py4j →
    java.sql.DriverManager). This is the reference's
    ``create_constraints``/``create_indexes`` step (main.py:496-552) —
    a handful of O(1) driver-side statements after the parallel load,
    not a data path."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            for sql in statements:
                st.executeUpdate(sql)
        finally:
            st.close()
    finally:
        conn.close()


def fetch_single_column(spark: SparkSession, url: str, query: str) -> list:
    """Driver-side metadata query (catalog introspection for tests —
    the reference's information_schema checks)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            rs = st.executeQuery(query)
            out = []
            while rs.next():
                out.append(rs.getObject(1))
            return out
        finally:
            st.close()
    finally:
        conn.close()
