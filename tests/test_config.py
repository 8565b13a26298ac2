"""transfer.yaml parsing + activate() lifecycle (trcli parity)."""

import os

import pytest

from transferia_spark.plans.config import transfer_from_yaml
from transferia_spark.plans.transfer import TransferType, activate, upload
from transferia_spark.schema.colschema import TableID
from transferia_spark.sources.base import Source


def _yaml(sf_dir, out_dir, extra=""):
    return f"""
id: test-transfer
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf_dir}/nation.parquet, format: parquet}}
dst:
  type: file
  params: {{path: {out_dir}, format: parquet}}
{extra}
"""


def test_yaml_roundtrip_snapshot(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    spec = transfer_from_yaml(
        _yaml(
            sf_dir,
            out,
            extra="""
transformation:
  transformers:
    - filter_columns: {include: [n_nationkey, n_name]}
    - rename_tables: {mapping: {nation: nation_out}}
""",
        )
    )
    assert spec.type == TransferType.SNAPSHOT_ONLY
    activate(spark, spec)
    written = spark.read.parquet(os.path.join(out, "nation_out"))
    assert written.columns == ["n_nationkey", "n_name"]
    assert written.count() == 25


def test_yaml_parse_time_transformer_validation(sf_dir, tmp_path):
    bad = _yaml(
        sf_dir,
        str(tmp_path),
        extra="""
transformation:
  transformers:
    - no_such_transformer: {}
""",
    )
    with pytest.raises(ValueError, match="unknown transformer"):
        transfer_from_yaml(bad)


def test_yaml_include_exclude_and_filters(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out2")
    spec = transfer_from_yaml(
        f"""
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf_dir}/customer.parquet, format: parquet}}
dst:
  type: file
  params: {{path: {out}, format: parquet}}
filters:
  customer: "c_nationkey = 3"
"""
    )
    activate(spark, spec)
    written = spark.read.parquet(os.path.join(out, "customer"))
    assert written.filter("c_nationkey <> 3").count() == 0
    assert written.count() > 0


def test_upload_restricts_tables(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out3")
    spec = transfer_from_yaml(_yaml(sf_dir, out))
    # upload with a non-matching explicit list writes nothing
    upload(spark, spec, ["other_table"])
    assert not os.path.exists(os.path.join(out, "nation"))
    upload(spark, spec, ["nation"])
    assert spark.read.parquet(os.path.join(out, "nation")).count() == 25


def test_regular_snapshot_and_typesystem_fields(sf_dir, tmp_path):
    spec = transfer_from_yaml(
        _yaml(sf_dir, str(tmp_path))
        + """
regular_snapshot: {enabled: true, interval: 3600}
type_system_version: 4
"""
    )
    assert spec.regular_snapshot["enabled"] is True
    assert spec.type_system_version == 4


def test_run_regular_snapshots_loop_and_interval(spark, sf_dir, tmp_path):
    """≈ abstract.RegularSnapshot: activate repeats on the interval;
    sleeps happen between runs with the configured interval; disabled
    config degrades to a single activate."""
    from transferia_spark.plans.transfer import run_regular_snapshots

    out = str(tmp_path / "reg")
    spec = transfer_from_yaml(
        _yaml(sf_dir, out)
        + "regular_snapshot: {enabled: true, interval: 7}\n"
    )
    slept = []
    runs = run_regular_snapshots(
        spark, spec, max_runs=3, sleep_fn=slept.append
    )
    assert len(runs) == 3
    assert slept == [7.0, 7.0]  # interval between runs, none after last
    assert spark.read.parquet(os.path.join(out, "nation")).count() == 25

    spec2 = transfer_from_yaml(_yaml(sf_dir, str(tmp_path / "reg2")))
    assert len(run_regular_snapshots(spark, spec2, max_runs=5)) == 1


def test_multi_table_file_source(spark, sf_dir, tmp_path):
    """tables: [...] turns a directory into one TableID per object
    (≈ the S3 provider listing objects into tables)."""
    out = str(tmp_path / "multi")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf_dir}, format: parquet, tables: [nation, region]}}
dst:
  type: file
  params: {{path: {out}, format: parquet}}
transformation:
  transformers:
    - filter_columns: {{exclude: [n_comment, r_comment]}}
""")
    written = activate(spark, spec)
    assert set(written) == {"nation", "region"}
    nation = spark.read.parquet(os.path.join(out, "nation"))
    assert nation.count() == 25 and "n_comment" not in nation.columns
    region = spark.read.parquet(os.path.join(out, "region"))
    assert region.count() == 5 and "r_comment" not in region.columns


def test_add_and_remove_tables(spark, sf_dir, tmp_path):
    """≈ tasks.AddTables / RemoveTables: add loads only the new tables
    and widens the include list; remove excludes without deleting
    delivered data."""
    from transferia_spark.plans.transfer import add_tables, remove_tables

    out = str(tmp_path / "addrm")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf_dir}, format: parquet, tables: [nation, region]}}
dst:
  type: file
  params: {{path: {out}, format: parquet}}
data_objects: {{include_objects: [nation]}}
""")
    activate(spark, spec)
    assert os.path.exists(os.path.join(out, "nation"))
    assert not os.path.exists(os.path.join(out, "region"))

    counts = add_tables(spark, spec, ["region"])
    assert "region" in counts and "region" in spec.include
    assert os.path.exists(os.path.join(out, "region"))
    # adding again is a no-op (already included)
    assert add_tables(spark, spec, ["region"]) == {}

    remove_tables(spec, ["nation"])
    assert "nation" not in spec.include and "nation" in spec.exclude
    # delivered data stays on disk
    assert os.path.exists(os.path.join(out, "nation"))


def test_activate_parallel_tables_matches_serial(spark, sf_dir, tmp_path):
    """process_count > 1 (ProcessCount-style thread pool over tables,
    ~ load_snapshot.go:902) produces byte-identical outputs to the
    serial path."""

    def run(out, pc):
        spec = transfer_from_yaml(
            f"""
id: par-transfer
type: SNAPSHOT_ONLY
src:
  type: file
  params:
    path: {sf_dir}
    format: parquet
    tables: [region, nation, supplier]
dst:
  type: file
  params: {{path: {out}, format: parquet}}
"""
        )
        written = activate(spark, spec, process_count=pc)
        return written

    w1 = run(str(tmp_path / "serial"), 1)
    w3 = run(str(tmp_path / "par"), 3)
    assert set(w1) == set(w3) == {"region", "nation", "supplier"}
    for t in ("region", "nation", "supplier"):
        a = spark.read.parquet(os.path.join(str(tmp_path / "serial"), t))
        b = spark.read.parquet(os.path.join(str(tmp_path / "par"), t))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_parallel_activate_cleans_shared_output_table_once(spark, sf_dir):
    """ADVICE r3: two source tables routed onto ONE output table under
    process_count>1 must not interleave a DROP with another thread's
    write — cleanup runs exactly once per output table, before the one
    write that holds both sources' rows."""
    import threading

    from transferia_spark.operators import Transformation, build
    from transferia_spark.plans.transfer import TransferSpec, TransferType
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.base import CleanupPolicy, Sink
    from transferia_spark.sources.base import Source

    class TwoTableSource(Source):
        TYPE = "_two"

        def table_list(self, spark):
            return [TableID("", "a"), TableID("", "b")]

        def load_table(self, spark, table, where=None):
            return spark.createDataFrame([(table.name,)], "src string")

    events: list[str] = []
    written_rows: list[list[str]] = []
    ev_lock = threading.Lock()

    class RecordingSink(Sink):
        TYPE = "_rec"

        def cleanup(self, table, policy):
            with ev_lock:
                events.append(f"cleanup:{table.fqtn()}")

        def write(self, df, table):
            rows = sorted(r.src for r in df.collect())
            with ev_lock:
                events.append(f"write:{table.fqtn()}")
                written_rows.append(rows)

    # rename both sources onto the same output table
    tf = Transformation(
        [build("rename_tables", mapping={"a": "shared", "b": "shared"})]
    )
    spec = TransferSpec(
        src=TwoTableSource(), dst=RecordingSink(),
        type=TransferType.SNAPSHOT_ONLY,
        transformation=tf, cleanup=CleanupPolicy.DROP,
    )
    from transferia_spark.plans.transfer import activate

    activate(spark, spec, process_count=2)
    cleanups = [e for e in events if e.startswith("cleanup:")]
    assert cleanups == ["cleanup:shared"]  # exactly once
    # and it strictly precedes every write to that table
    assert events.index("cleanup:shared") < min(
        i for i, e in enumerate(events) if e == "write:shared"
    )
    assert events.count("write:shared") == 1
    assert written_rows == [["a", "b"]]


class _ListSource(Source):
    """In-memory tables {name: [ints]}; parallel-safe like FileSource."""

    TYPE = "_list"
    parallel_safe = True

    def __init__(self, tables):
        self.tables = tables

    def table_list(self, spark):
        return [TableID("", t) for t in self.tables]

    def load_table(self, spark, table, where=None):
        return spark.createDataFrame([(v,) for v in self.tables[table.name]], "v long")


@pytest.mark.parametrize("pc", [1, None])
def test_many_to_one_routing_keeps_every_row(spark, tmp_path, pc):
    """Two source tables renamed onto one FileSink table: the output
    holds all five rows — one write of the union, not a second
    overwrite replacing the first (or two overwrite jobs racing on one
    path)."""
    from transferia_spark.operators import Transformation, build
    from transferia_spark.plans.transfer import TransferSpec
    from transferia_spark.sinks.files import FileSink

    out = str(tmp_path / "out")
    spec = TransferSpec(
        src=_ListSource({"a": [1, 2, 3], "b": [10, 20]}),
        dst=FileSink(path=out, format="parquet"),
        transformation=Transformation(
            [build("rename_tables", mapping={"a": "shared", "b": "shared"})]
        ),
    )
    assert activate(spark, spec, process_count=pc) == {"shared": -1}
    got = sorted(r.v for r in spark.read.parquet(os.path.join(out, "shared")).collect())
    assert got == [1, 2, 3, 10, 20]


def test_activate_jobs_keep_callers_job_group(spark, sf_dir, tmp_path):
    """Pool threads inherit the caller's Spark local properties: every
    write job of a 3-table activation lands in the caller's job group,
    with an explicit process_count and with the derived default."""
    from transferia_spark.plans.transfer import TransferSpec
    from transferia_spark.sinks.files import FileSink
    from transferia_spark.sources.files import FileSource

    sc = spark.sparkContext
    tables = ["region", "nation", "supplier"]
    try:
        for pc in (3, None):
            group = f"activate-group-{pc}"
            sc.setJobGroup(group, "activate() job-group inheritance")
            spec = TransferSpec(
                src=FileSource(path=sf_dir, format="parquet", tables=tables),
                dst=FileSink(path=str(tmp_path / f"out{pc}"), format="parquet"),
            )
            assert set(activate(spark, spec, process_count=pc)) == set(tables)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
