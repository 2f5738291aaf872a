"""Table resolution: parquet directories (tests/bench) and JDBC (production).

Covers SURVEY.md §2.1:

- S1/S2 — parameterized & full scans. In Spark the "prepared statement" is
  just a DataFrame builder function; ``WHERE id=$1`` becomes ``df.filter``
  whose predicate Catalyst pushes into the parquet/JDBC scan (check
  ``PushedFilters`` in ``.explain``). Reference:
  ``src/from-ground-up.js:149-171``, ``src/mapboxing.js:123-166``.
- S4 — env-based connection config (reference README.md:4,
  ``run_mapboxing.bash:4-10``) becomes ``jdbc_reader`` options.
- S5 — JSON fixture reading (reference ``test/testy_stuff.js:3-16``) is
  ``spark.read.schema(...).json``.

Scale note: at 100 TB the parquet paths are directory trees, ideally
partitioned by a high-level key (e.g. ``area_id`` bucket or date). All loads
here go through ``spark.read`` so partition pruning + pushdown are free; no
driver-side row handling ever happens in this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class Catalog:
    """Resolves logical table names to DataFrames for one dataset directory.

    ``sf_dir`` layout is one ``<table>.parquet`` per table (TESTDATA.md). An
    explicit schema may be supplied per table (ATES fixtures); otherwise the
    parquet footer schema is used — either way the scan is schema-pruned to
    the columns the plan touches.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        schemas: dict[str, T.StructType] | None = None,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.schemas = schemas or {}
        #: area-invariant export plans by document kind, built on first use
        #: (``plans.area_export.area_plan``); they hold no data
        self.area_plans: dict[str, tuple] = {}
        try:
            # tolerate TIMESTAMP(NANOS) parquet (events table): read as raw
            # nanos longs; streaming/events.read_events converts to timestamps
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass

    def path(self, table: str) -> str:
        return os.path.join(self.sf_dir, f"{table}.parquet")

    def table(self, table: str) -> DataFrame:
        """Full scan (S2): ``SELECT ... FROM t`` with no predicate."""
        reader = self.spark.read
        if table in self.schemas:
            reader = reader.schema(self.schemas[table])
        return reader.parquet(self.path(table))

    def register_views(self, tables: list[str] | None = None, prefix: str = "") -> list[str]:
        """S3 front-end — register each table as a temp view so users can run
        plain ``spark.sql`` against the catalog (the engine's replacement for
        the reference's generated-SQL-string surface). Returns the view names.

        Views are lazy: registering costs nothing; queries against them get
        the same pushdown/pruning as the DataFrame API.
        """
        if tables is None:
            tables = sorted(
                f[: -len(".parquet")]
                for f in os.listdir(self.sf_dir)
                if f.endswith(".parquet")
            )
        names = []
        for t in tables:
            name = f"{prefix}{t}"
            self.table(t).createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str) -> DataFrame:
        """Run SQL against previously registered views."""
        return self.spark.sql(query)

    def read_json(self, path: str, schema: T.StructType | None = None) -> DataFrame:
        """S5 — JSON fixture reader (one object or NDJSON per line)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.option("multiLine", "false").json(path)


def jdbc_reader(
    spark: SparkSession,
    table: str,
    *,
    url: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """Production-path scan over JDBC (S1/S4).

    Connection config follows the reference's env contract
    (``PGUSER/PGHOST/PGPASSWORD/PGDATABASE`` or ``ATES_CONNECTION_STRING``,
    reference ``src/from-ground-up.js:979``, ``run_mapboxing.bash:4-10``)
    translated to a JDBC URL. ``partition_column`` + bounds split the scan
    into ``num_partitions`` parallel range reads — the knob that matters when
    the source table is large; without it a JDBC scan is a single task.

    Filters/projections applied on the returned DataFrame are pushed down to
    the database by the JDBC source (Catalyst ``PushDownPredicates``).
    """
    reader = spark.read.format("jdbc")
    for k, v in jdbc_options(
        table,
        url=url,
        driver=driver,
        partition_column=partition_column,
        num_partitions=num_partitions,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_options(
    table: str,
    *,
    url: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> dict[str, str]:
    """The exact option map :func:`jdbc_reader` hands the JDBC source —
    factored pure so the Postgres dialect tier is shape-pinnable without a
    server (VERDICT r9 #6: golden tests on the generated dbtable, URL
    derivation, and credentials pass-through for every ATES table).

    URL resolution follows the reference's env contract
    (``ATES_CONNECTION_STRING`` wins, else ``PGHOST``/``PGDATABASE`` form a
    ``jdbc:postgresql://`` URL; ``PGUSER``/``PGPASSWORD`` ride as reader
    options — ``run_mapboxing.bash:4-10``, ``src/from-ground-up.js:979``).
    """
    if url is None:
        conn = os.environ.get("ATES_CONNECTION_STRING")
        if conn:
            url = f"jdbc:{conn}" if not conn.startswith("jdbc:") else conn
        else:
            host = os.environ.get("PGHOST", "localhost")
            db = os.environ.get("PGDATABASE", "ates")
            url = f"jdbc:postgresql://{host}/{db}"
    opts = {
        "url": url,
        "dbtable": table,
        "user": os.environ.get("PGUSER", ""),
        "password": os.environ.get("PGPASSWORD", ""),
    }
    if driver is not None:
        # explicit driver class (e.g. embedded Derby in tests); the Postgres
        # production path relies on URL-based driver resolution
        opts["driver"] = driver
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            numPartitions=str(num_partitions),
            lowerBound=str(lower_bound if lower_bound is not None else 0),
            upperBound=str(upper_bound if upper_bound is not None else 1 << 31),
        )
    return opts


class JdbcCatalog(Catalog):
    """Catalog over a live JDBC database — the S4 production path the
    reference actually runs against (Postgres via env config,
    ``src/from-ground-up.js:979``, ``run_mapboxing.bash:4-10``).

    Resolves every logical table through :func:`jdbc_reader`, so the whole
    export pipeline (``plans/area_export``) runs unchanged against a
    database instead of parquet: predicates Catalyst pushes reach the
    database as WHERE clauses (``PushedFilters`` on the JDBCRelation
    scan), and projections become the SELECT column list. Exercised
    end-to-end in ``tests/test_jdbc_live.py`` against embedded Derby (the
    JDBC database Spark ships jars for) — same engine code path a
    Postgres URL takes, minus the network.

    ``tables`` (optional) names the catalog's table universe for
    ``register_views`` — a JDBC catalog cannot list a directory.

    ``quote_tables`` (default True) double-quotes the table name in the
    generated SQL so the engine's lowercase logical names resolve
    EXACTLY on case-folding databases (Postgres folds unquoted
    identifiers down, Derby folds them up — quoting gives the same
    behavior on both). Disable for schema-qualified or already-quoted
    names.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        *,
        driver: str | None = None,
        tables: list[str] | None = None,
        num_partitions: int = 32,
        quote_tables: bool = True,
    ) -> None:
        self.spark = spark
        self.url = url
        self.driver = driver
        self.schemas = {}
        self.area_plans = {}
        self._tables = tables
        self._num_partitions = num_partitions
        self._quote_tables = quote_tables

    def path(self, table: str) -> str:
        raise NotImplementedError("JdbcCatalog has no filesystem paths")

    def _name(self, table: str) -> str:
        return f'"{table}"' if self._quote_tables else table

    def table(self, table: str) -> DataFrame:
        return jdbc_reader(
            self.spark, self._name(table), url=self.url, driver=self.driver
        )

    def partitioned_table(
        self,
        table: str,
        partition_column: str,
        lower_bound: int,
        upper_bound: int,
    ) -> DataFrame:
        """Range-partitioned parallel scan — the knob that matters when the
        source table is large (without it a JDBC scan is ONE task)."""
        return jdbc_reader(
            self.spark,
            self._name(table),
            url=self.url,
            driver=self.driver,
            partition_column=partition_column,
            num_partitions=self._num_partitions,
            lower_bound=lower_bound,
            upper_bound=upper_bound,
        )

    def register_views(self, tables: list[str] | None = None, prefix: str = "") -> list[str]:
        tables = tables if tables is not None else self._tables
        if tables is None:
            raise ValueError(
                "JdbcCatalog.register_views needs an explicit table list"
            )
        names = []
        for t in tables:
            name = f"{prefix}{t}"
            self.table(t).createOrReplaceTempView(name)
            names.append(name)
        return names
