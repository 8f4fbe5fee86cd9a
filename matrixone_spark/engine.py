"""Engine façade: session + catalog + SQL entry point.

Reference parity: the reference's query lifecycle (SURVEY §3.1 —
``pkg/frontend/mysql_cmd_executor.go:4534`` doComQuery → parse → plan →
compile → pipelines) maps 1:1 onto ``spark.sql``: Catalyst does
parse/analyze/optimize/codegen, Spark stages replace hand-built pipelines.
The Engine is deliberately thin — we declare plans, Catalyst schedules them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from matrixone_spark.catalog import Catalog
from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.session import get_spark


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog: Catalog | None = None

    @classmethod
    def local(cls, app_name: str = "mospark") -> "Engine":
        return cls(get_spark(app_name))

    def load(self, sf_dir: str) -> "Engine":
        self.catalog = Catalog(self.spark, sf_dir)
        self.catalog.register_views()
        return self

    def table(self, name: str) -> DataFrame:
        assert self.catalog is not None, "call load(sf_dir) first"
        return self.catalog.table(name)

    def sql(self, query: str, args: "dict | list | None" = None) -> DataFrame:
        """Run SQL over the registered views, after registering the SQL
        surface functions (functions/sql_surface.py) the text calls.

        ``args`` gives parameterized execution (named ``:name`` or positional
        ``?``) — the batch analogue of the reference's PREPARE/EXECUTE
        surface (pkg/frontend/session.go:793 plan cache; SURVEY §3.2: Spark
        needs no plan cache, parameter binding covers the semantics).
        """
        return run_sql(self.spark, query, args)

    def mysql_sql(self, query: str, args: "dict | list | None" = None) -> DataFrame:
        """Run MySQL-dialect SQL: translates the known pattern divergences
        (DATE_FORMAT %-patterns, STR_TO_DATE, GROUP_CONCAT) then executes
        (matrixone_spark/mysql_dialect.py)."""
        from matrixone_spark.mysql_dialect import translate

        return self.sql(translate(query), args)

    def explain(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN <sql> (reference: explain statement → plan tree over
        pkg/sql/plan; SURVEY §3.1). Returns Catalyst's plan text —
        modes: simple | extended | codegen | cost | formatted."""
        return _explain_text(self.sql(query), mode)

    def explain_mysql(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN for MySQL-dialect text (translated first)."""
        from matrixone_spark.mysql_dialect import translate

        return _explain_text(self.sql(translate(query)), mode)

    def prepare(self, query: str, dialect: str = "ansi") -> "Prepared":
        """PREPARE stmt FROM '<sql with ? or :name params>' (reference:
        pkg/frontend/session.go:793 prepareStmts map + plan cache;
        tree/prepare.go). Returns a handle whose execute() binds params —
        Catalyst re-analyzes per execute, but the parse/translate work and
        the statement text live on the handle, and parameter markers keep
        the plan shape stable so AQE/codegen caches hit across executes."""
        if dialect == "mysql":
            from matrixone_spark.mysql_dialect import translate

            query = translate(query)
        elif dialect != "ansi":
            raise ValueError(f"unknown dialect {dialect!r}")
        return Prepared(self, query)


class Prepared:
    """A prepared statement: EXECUTE ... USING analogue (SURVEY §3.2)."""

    def __init__(self, engine: Engine, query: str):
        self.engine = engine
        self.query = query

    def execute(self, args: "dict | list | None" = None) -> DataFrame:
        return self.engine.sql(self.query, args)


def _explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """Plan text for a DataFrame (shared by Engine.explain/explain_mysql)."""
    if mode not in ("simple", "extended", "codegen", "cost", "formatted"):
        raise ValueError(f"unknown explain mode {mode!r}")
    jvm = df.sparkSession._sc._jvm  # type: ignore[attr-defined]
    j_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(j_mode)  # type: ignore[attr-defined]
