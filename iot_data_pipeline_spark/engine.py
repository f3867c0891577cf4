"""User-facing facade: one object that exposes the engine's surface the way
the reference's users consume it (SURVEY.md §3's three entry points), so
switching from the reference is a one-import change:

    from iot_data_pipeline_spark.engine import Engine

    eng = Engine.local()                      # or Engine(spark)
    eng.ingest_csv("/data/iot23", "/data/parquet")   # entry point 1 (ETL job)
    eng.register_tables("/data/tables")       # parquet catalog → temp views
    eng.sql("SELECT count(*) FROM lineitem")  # entry point 3 (ad-hoc SQL)
    eng.query("join_multiway")                # named operator library
    eng.stream_events("/data/tables")         # streaming surface

``register_tables`` (or ``Engine.local(sf_dir=...)`` / ``Engine(spark,
sf_dir=...)``) pins the default table directory, so ``query`` needs only
the operator name; pass an explicit ``sf_dir`` to override per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iot_data_pipeline_spark.pipeline import process
from iot_data_pipeline_spark.session import build_session, prepare
from iot_data_pipeline_spark.sources.readers import TABLES, load_table
from iot_data_pipeline_spark.sources.sinks import write_parquet


class Engine:
    """Thin session-owning facade over the operator library."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = prepare(spark)
        self.sf_dir = sf_dir
        self._registry = None

    @classmethod
    def local(cls, cores: int = 4, sf_dir: str | None = None, **conf) -> "Engine":
        return cls(
            build_session(master=f"local[{cores}]", conf=conf or None),
            sf_dir=sf_dir,
        )

    # -- entry point 1: the reference's ETL job ---------------------------
    def ingest_csv(
        self, input_path: str, output_path: str, sort_by: list[str] | None = None
    ) -> DataFrame:
        """Schema-enforced CSV scan → normalize → quirk transforms →
        overwrite parquet; returns the transformed frame (lazy)."""
        df = process(self.spark, input_path)
        write_parquet(df, output_path, sort_within_partitions=sort_by)
        return df

    # -- catalog -----------------------------------------------------------
    def register_tables(self, sf_dir: str, names: tuple = TABLES) -> None:
        """Register the parquet tables as temp views for the SQL surface;
        also pins ``sf_dir`` as the default directory for ``query``."""
        self.sf_dir = sf_dir
        for name in names:
            load_table(self.spark, sf_dir, name).createOrReplaceTempView(name)

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return load_table(self.spark, sf_dir, name)

    # -- entry point 3: ad-hoc SQL ------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- named operator library ----------------------------------------------
    @property
    def operators(self) -> dict:
        if self._registry is None:
            import __spark_entry__ as entrymod

            self._registry = entrymod.queries()
        return self._registry

    def query(self, name: str, sf_dir: str | None = None) -> DataFrame:
        """Run a named operator from the declared inventory against
        ``sf_dir`` (defaults to the directory pinned at construction or by
        ``register_tables``)."""
        d = sf_dir if sf_dir is not None else self.sf_dir
        if d is None:
            raise ValueError(
                "no table directory: pass sf_dir, construct with "
                "Engine(..., sf_dir=...), or call register_tables first"
            )
        return self.operators[name](self.spark, d)

    # -- streaming -------------------------------------------------------------
    def stream_events(
        self, sf_dir: str | None = None, name: str = "stream_ingest_files"
    ) -> DataFrame:
        """Run a named streaming operator to completion (bounded replay)."""
        return self.query(name, sf_dir)

    def sensor_stream(self, **options):
        """Unbounded readStream from the custom IoT connector."""
        from iot_data_pipeline_spark.sources.iot_simulator import register

        register(self.spark)
        reader = self.spark.readStream.format("iot_sensors")
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
