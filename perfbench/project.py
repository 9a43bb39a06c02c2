"""project_query: dsgrid's unit of work, a project query, on a generated
county-level load dataset, followed by a round of index churn.

A fixed mix of ``ProjectQueryModel``s goes through
``QuerySubmitter.submit``: a two-mapping aggregate, a daily downsample, a
per-geography time-zone conversion, a two-dataset expression with
``aggregate_each_dataset``, a pivoted peak-load report, and one
``create_composite_dataset`` write into a fresh output directory (so the
submitter's result cache can never serve it). Each result is checked
against a DuckDB oracle computed once in set-up over the same parquet.
The round ends with the appends, searches and maintenance tick of
:mod:`perfbench.churn` on a persisted IVF index.
"""

from __future__ import annotations

import os

from perfbench import check, gen
from perfbench.churn import IndexChurn

_SUB0, _MET0 = gen.SUBSECTORS[0], gen.METRICS[0]

ORACLES = {
    "map_aggregate": """
        SELECT g.to_id AS geography, s.to_id AS subsector, l.metric,
               sum(l.value * g.from_fraction * s.from_fraction) AS value
        FROM load l JOIN county_to_state g ON l.geography = g.from_id
        JOIN subsector_to_sector s ON l.subsector = s.from_id
        GROUP BY ALL""",
    "daily_downsample": """
        SELECT g.to_id AS geography, l.metric,
               to_timestamp(floor(epoch(l.timestamp) / 86400) * 86400) AS timestamp,
               sum(l.value * g.from_fraction) AS value
        FROM load l JOIN county_to_state g ON l.geography = g.from_id
        GROUP BY ALL""",
    "geography_time_zone": f"""
        SELECT l.geography, timezone(c.time_zone, l.timestamp) AS timestamp,
               l.value
        FROM load l JOIN county c ON l.geography = c.id
        WHERE l.subsector = '{_SUB0}' AND l.metric = '{_MET0}'""",
    "dataset_expression": """
        WITH a AS (
          SELECT l.geography, s.to_id AS subsector, l.metric,
                 month(l.timestamp) AS month,
                 sum(l.value * s.from_fraction) AS value
          FROM load l JOIN subsector_to_sector s ON l.subsector = s.from_id
          GROUP BY ALL
        ), b AS (
          SELECT m.to_id AS geography, s.to_id AS subsector, e.metric,
                 month(e.timestamp) AS month,
                 sum(e.value * m.from_fraction * s.from_fraction) AS value
          FROM ev e JOIN state_to_county m ON e.geography = m.from_id
          JOIN subsector_to_sector s ON e.subsector = s.from_id
          GROUP BY ALL
        )
        SELECT geography, subsector, metric, month, a.value + b.value AS value
        FROM a JOIN b USING (geography, subsector, metric, month)""",
    "pivoted_peak": f"""
        WITH agg AS (
          SELECT g.to_id AS geography, l.metric, l.timestamp,
                 sum(l.value * g.from_fraction) AS value
          FROM load l JOIN county_to_state g ON l.geography = g.from_id
          GROUP BY ALL
        ), pk AS (
          SELECT * FROM agg QUALIFY row_number() OVER (
            PARTITION BY geography, metric ORDER BY value DESC, timestamp) = 1
        )
        SELECT geography, timestamp,
          {", ".join(f"sum(value) FILTER (WHERE metric = '{m}') AS {m}"
                     for m in gen.METRICS)}
        FROM pk GROUP BY geography, timestamp""",
    "composite_write": """
        SELECT g.to_id AS geography, s.to_id AS subsector, l.metric,
               l.timestamp,
               sum(l.value * g.from_fraction * s.from_fraction) AS value
        FROM load l JOIN county_to_state g ON l.geography = g.from_id
        JOIN subsector_to_sector s ON l.subsector = s.from_id
        GROUP BY ALL""",
}


def _queries():
    from dsgrid_spark.operators.aggregation import AggregationModel, ColumnModel
    from dsgrid_spark.operators.filters import ExpressionFilter
    from dsgrid_spark.query.models import (
        DatasetModel, MappingSpec, PeakLoadReportModel, PivotedResultFormat,
        ProjectQueryModel, ResultModel,
    )

    def agg(*cols):
        return [AggregationModel(group_by_columns=[
            c if isinstance(c, ColumnModel) else ColumnModel(dimension_name=c)
            for c in cols], aggregation_function="sum")]

    to_state = MappingSpec(dimension="geography", mapping="county_to_state")
    to_sector = MappingSpec(dimension="subsector", mapping="subsector_to_sector")
    to_county = MappingSpec(dimension="geography", mapping="state_to_county")
    month = ColumnModel(dimension_name="timestamp", function="month", alias="month")
    return {
        "map_aggregate": ProjectQueryModel(
            name="map_aggregate",
            source_datasets=[DatasetModel(dataset_id="load",
                                          mappings=[to_state, to_sector])],
            result=ResultModel(aggregations=agg("geography", "subsector", "metric"),
                               sort_columns=["geography", "subsector", "metric"])),
        "daily_downsample": ProjectQueryModel(
            name="daily_downsample",
            source_datasets=[DatasetModel(dataset_id="load", mappings=[to_state])],
            result=ResultModel(aggregations=agg("geography", "metric", "timestamp"))),
        "geography_time_zone": ProjectQueryModel(
            name="geography_time_zone",
            source_datasets=[DatasetModel(dataset_id="load", filters=[
                ExpressionFilter(column="subsector", operator="==", value=_SUB0),
                ExpressionFilter(column="metric", operator="==", value=_MET0)])],
            result=ResultModel(aggregations=agg("geography", "timestamp"),
                               time_zone="geography")),
        "dataset_expression": ProjectQueryModel(
            name="dataset_expression",
            source_datasets=[
                DatasetModel(dataset_id="load", mappings=[to_sector]),
                DatasetModel(dataset_id="ev", mappings=[to_county, to_sector])],
            expression="load + ev",
            aggregate_each_dataset=True,
            result=ResultModel(aggregations=agg("geography", "subsector",
                                                "metric", month))),
        "pivoted_peak": ProjectQueryModel(
            name="pivoted_peak",
            source_datasets=[DatasetModel(dataset_id="load", mappings=[to_state])],
            result=ResultModel(
                aggregations=agg("geography", "metric", "timestamp"),
                reports=[PeakLoadReportModel(group_by_columns=["geography", "metric"],
                                             tie_breakers=["timestamp"])],
                output_format="pivoted",
                pivoted=PivotedResultFormat(pivoted_dimension="metric",
                                            pivot_values=gen.METRICS))),
        "composite_write": ProjectQueryModel(
            name="composite_write",
            source_datasets=[DatasetModel(dataset_id="load",
                                          mappings=[to_state, to_sector])],
            result=ResultModel(aggregations=agg("geography", "subsector",
                                                "metric", "timestamp"))),
    }


def _dir_bytes(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class ProjectQuery:
    name = "project_query"
    shape = gen.LoadShape()

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.queries = _queries()
        self.expected = {}
        self.n_writes = 0
        self.index = IndexChurn(spark, seed)

    def generate(self, out_dir: str) -> None:
        gen.write_load_tables(self.seed, self.shape, out_dir)
        self.index.generate(out_dir)

    def _catalog(self, data_dir: str):
        from dsgrid_spark.query.project import ProjectConfig
        from dsgrid_spark.sources.catalog import Catalog

        def p(name):
            return os.path.join(data_dir, f"{name}.parquet")

        catalog = Catalog(self.spark)
        catalog.register_dataset("load", p("load"))
        catalog.register_dataset("ev", p("ev"))
        catalog.register_mapping("county_to_state", p("county_to_state"),
                                 "county", "state")
        catalog.register_mapping("subsector_to_sector", p("subsector_to_sector"),
                                 "subsector", "sector")
        catalog.register_mapping("state_to_county", p("state_to_county"),
                                 "state", "county")
        catalog.register_dimension("county", p("county"))
        return catalog, ProjectConfig(project_id="perfbench",
                                      base_dimensions={"geography": "county"})

    def prepare(self, data_dir: str, work_dir: str) -> None:
        """Oracle results for every op, then the index build, whose Spark
        jobs also keep JVM start-up costs off the first query."""
        con = check.duck({n: os.path.join(data_dir, f"{n}.parquet")
                          for n in gen.LOAD_TABLES})
        self.expected = {n: con.execute(sql).fetch_arrow_table()
                         for n, sql in ORACLES.items()}
        con.close()
        self.work_dir = work_dir
        self.catalog, self.project = self._catalog(data_dir)
        self.index.prepare(data_dir, work_dir)

    def _submitter(self, output_dir=None):
        from dsgrid_spark.query.submitter import QuerySubmitter

        return QuerySubmitter(self.catalog, output_dir=output_dir,
                              project=self.project)

    def _composite(self, runner) -> None:
        sc = self.spark.sparkContext
        out = os.path.join(self.work_dir, f"composite-{self.n_writes}")
        self.n_writes += 1
        jobs_before = len(sc.statusTracker().getJobIdsForGroup(None))
        path = runner.call(
            "composite_write", "write",
            lambda: self._submitter(out).create_composite_dataset(
                self.queries["composite_write"]),
            lambda p: None, rows=self.shape.load_rows)
        op = runner.ops[-1]
        if op.error is None:
            if len(sc.statusTracker().getJobIdsForGroup(None)) == jobs_before:
                op.error = "composite write launched no Spark job"
            else:
                import pyarrow.parquet as pq

                table = pq.read_table(os.path.join(str(path), "table.parquet"))
                op.error = check.close_mismatch(table,
                                                self.expected["composite_write"])
                size, files = _dir_bytes(out)
                op.extra.update(user_bytes=table.nbytes, bytes_written=size,
                                files_written=files)

    def round(self, runner) -> None:
        from dsgrid_spark.timedim.conversion import downsample

        def checker(name):
            return lambda t: check.close_mismatch(t, self.expected[name])

        q = self.queries
        rows = self.shape.load_rows
        runner.query("map_aggregate",
                     lambda: self._submitter().submit(q["map_aggregate"]),
                     checker("map_aggregate"), rows=rows)
        runner.query("daily_downsample",
                     lambda: downsample(self._submitter().submit(
                         q["daily_downsample"]), "timestamp", 86400),
                     checker("daily_downsample"), rows=rows)
        runner.query("geography_time_zone",
                     lambda: self._submitter().submit(q["geography_time_zone"]),
                     checker("geography_time_zone"), rows=rows)
        runner.query("dataset_expression",
                     lambda: self._submitter().submit(q["dataset_expression"]),
                     checker("dataset_expression"),
                     rows=rows + self.shape.state_rows)
        runner.query("pivoted_peak",
                     lambda: self._submitter().submit(q["pivoted_peak"]),
                     checker("pivoted_peak"), rows=rows)
        self._composite(runner)
        self.index.round(runner)
