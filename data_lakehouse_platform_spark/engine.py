"""User-facing facade — the one import a user of the reference
platform needs to switch over:

    from data_lakehouse_platform_spark.engine import Lakehouse

    lh = Lakehouse(sf_dir="/root/testdata/sf0.01")
    lh.table("orders")                      # DataFrame
    lh.sql("SELECT COUNT(*) FROM lineitem") # SQL over registered views
    lh.query("q1_pricing_summary")          # any registry operator
    lh.profile("q1_pricing_summary")        # its jobs, stages, shuffle bytes
    lh.medallion("/data/lake")              # bronze->silver->gold builder
    lh.delta("/data/gold/dim_products")     # versioned Delta table handle
    lh.iceberg("/data/ice/events")          # Iceberg metadata interop
    lh.runner()                             # dependency-ordered job DAG

Everything underneath is plain Spark — the facade only wires the
session factory, catalog, registry, and lakehouse primitives
together; no state beyond the SparkSession.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_lakehouse_platform_spark.catalog import load_table, register_views
from data_lakehouse_platform_spark.queries import all_queries
from data_lakehouse_platform_spark.session import get_spark


class Lakehouse:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir

    # -- data access ----------------------------------------------------

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self._dir(), name)

    def sql(self, query: str) -> DataFrame:
        # Re-register EVERY call: temp views are session-global, so two
        # facades sharing one SparkSession would otherwise silently
        # read whichever sf_dir registered last. spark.sql resolves
        # views eagerly at analysis time, so the returned DataFrame is
        # pinned to THIS facade's tables even if another facade
        # re-registers afterwards; registration itself is lazy metadata
        # (no scan), so the per-call cost is negligible.
        register_views(self.spark, self._dir())
        return self.spark.sql(query)

    # -- operator registry ----------------------------------------------

    def query(self, name: str) -> DataFrame:
        return all_queries()[name].build(self.spark, self._dir())

    def query_names(self) -> list[str]:
        return sorted(all_queries())

    def profile(self, name: str) -> dict:
        """Run registry query ``name`` and return its stage metrics in
        two windows, as one flat record: ``build_*`` covers the eager
        jobs the builder launches while constructing the DataFrame,
        ``action_*`` a ``noop`` write of the result (see
        :func:`~data_lakehouse_platform_spark.plans.profile.profile` for
        the fields).  Every value is a number, so the record goes
        straight into ``MetricsHistory.append``."""
        from data_lakehouse_platform_spark.plans.profile import profile

        with profile(self.spark) as build:
            df = self.query(name)
        with profile(self.spark) as action:
            df.write.format("noop").mode("overwrite").save()
        return {
            **{f"build_{k}": v for k, v in build.items()},
            **{f"action_{k}": v for k, v in action.items()},
        }

    # -- lakehouse primitives -------------------------------------------

    def medallion(self, base_dir: str):
        from data_lakehouse_platform_spark.plans import MedallionPipeline

        return MedallionPipeline(self.spark, base_dir)

    def runner(self):
        from data_lakehouse_platform_spark.plans.runner import PipelineRunner

        return PipelineRunner(self.spark)

    def delta(self, path: str):
        """Handle on a versioned Delta table (``_delta_log``): time
        travel, MERGE, OPTIMIZE, VACUUM and the change feed — and the
        same handle opens tables a delta-spark user already has."""
        from data_lakehouse_platform_spark.sources.delta_lite import (
            DeltaLiteTable,
        )

        return DeltaLiteTable(path)

    def iceberg(self, path: str):
        """Handle on an Iceberg table: the interop edge, not a second
        engine.  It reads what an Iceberg writer produced (snapshots
        and time travel, position/equality deletes, schema and
        partition evolution, v3 Puffin deletion vectors) and carries
        only the write verbs the Iceberg streaming sinks need:
        ``write``, ``upsert``, ``delete``, ``rewrite_data_files`` and
        ``committed_batches``.  MERGE, restore, vacuum and schema
        evolution are :meth:`delta` verbs."""
        from data_lakehouse_platform_spark.sources.iceberg_lite import (
            IcebergLiteTable,
        )

        return IcebergLiteTable(path)

    def _dir(self) -> str:
        if self.sf_dir is None:
            raise ValueError("Lakehouse(sf_dir=...) required for table access")
        return self.sf_dir
