"""End-to-end CNPJ ingest: latin-1 ';' decimal-comma zipped CSV →
planner → acquisition → typed snapshot parquet → catalog → query.
This is the reference's whole state machine as one test
(SURVEY.md §7.2 minimum slice)."""

from __future__ import annotations

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from aws_etl_dados_publicos_cnpj_spark.plans.pipeline import run_pipeline
from aws_etl_dados_publicos_cnpj_spark.plans.planner import (
    CatalogState,
    plan_status,
    plan_updates,
)
from aws_etl_dados_publicos_cnpj_spark.sources.cnpj_csv import read_cnpj_csv
from aws_etl_dados_publicos_cnpj_spark.sources.listing import ListingRow, listing_df
from aws_etl_dados_publicos_cnpj_spark.sources.sink import (
    analyze_table,
    latest_partition,
    list_partitions,
    register_table,
    write_clustered,
    write_snapshot,
)

EMPRESAS_CSV = (
    "12345678;EMPRESA SÃO PAULO LTDA;2046;10;1234,56;3;SP\n"
    "87654321;AÇAÍ DO NORTE ME;2062;49;0,00;1;AM\n"
    "11222333;;2046;;;;\n"  # empty fields
)
MUNICIPIOS_CSV = "3550308;SÃO PAULO\n1302603;MANAUS\n"


@pytest.fixture()
def fixture_zips(tmp_path):
    for name, content in [
        ("Empresas0.zip", EMPRESAS_CSV),
        ("Municipios.zip", MUNICIPIOS_CSV),
    ]:
        with zipfile.ZipFile(tmp_path / name, "w") as zf:
            zf.writestr(name.replace(".zip", ".CSV"), content.encode("latin-1"))
    return tmp_path


def _listing(spark, tmp_path):
    rows = [
        ListingRow("Empresas0.zip", f"file://{tmp_path}/Empresas0.zip", "2023-05-06 10:22", False),
        ListingRow("Municipios.zip", f"file://{tmp_path}/Municipios.zip", "2023-05-06 10:22", False),
        ListingRow("parent-dir", "#", "", True),
        ListingRow("LAYOUT.pdf", "file://nope", "2023-05-06 10:22", False),
    ]
    return listing_df(spark, rows)


def _job_ids(spark, group: str, fn):
    """Run ``fn`` under a job group; return its result and the ids of
    the Spark jobs it submitted from this thread."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_full_pipeline_roundtrip(spark, fixture_zips):
    listing = _listing(spark, fixture_zips)
    wh = str(fixture_zips / "warehouse")
    refreshed = run_pipeline(
        spark, listing, CatalogState({}), wh, str(fixture_zips / "scratch")
    )
    assert refreshed == {"empresas": "20230506", "municipios": "20230506"}

    emp = spark.sql("SELECT * FROM default.empresas ORDER BY cnpj_raiz")
    rows = emp.collect()
    assert len(rows) == 3
    by_key = {r.cnpj_raiz: r for r in rows}
    # latin-1 accents survive; decimal comma became double
    assert by_key[12345678].raz_soc == "EMPRESA SÃO PAULO LTDA"
    assert by_key[12345678].cap_soc == 1234.56
    assert by_key[87654321].raz_soc == "AÇAÍ DO NORTE ME"
    assert by_key[87654321].cap_soc == 0.0
    assert by_key[11222333].raz_soc is None and by_key[11222333].cap_soc is None
    assert dict(emp.dtypes)["cap_soc"] == "double"

    # catalog: partitions registered, true-max helper works
    assert list_partitions(spark, "empresas") == ["20230506"]
    assert latest_partition(spark, "empresas") == 20230506

    # dimension join over the landed warehouse (the §7.2 slice query)
    q = spark.sql(
        "SELECT m.`desc` AS city FROM default.municipios m WHERE m.codigo = 3550308"
    )
    assert q.collect()[0].city == "SÃO PAULO"


def test_freshness_skip_and_stale(spark, fixture_zips):
    listing = _listing(spark, fixture_zips)
    fresh = CatalogState({"empresas": ["20230506"], "municipios": ["20230506"]})
    assert plan_updates(spark, listing, fresh).count() == 0

    # out-of-order multi-partition catalog → true max decides (S14 intent)
    stale = CatalogState({"empresas": ["20230101", "20220615"], "municipios": ["20230506"]})
    manifest = plan_updates(spark, listing, stale).collect()
    assert [(r.table_name, r.date) for r in manifest] == [("empresas", "20230506")]


def test_unchanged_week_executes_the_plan_once(spark, fixture_zips):
    """The unchanged week's ``run_pipeline`` submits no Spark job: the
    plan runs on the driver over the collected local listing, and the
    empty manifest is a local relation. Counts jobs, times nothing."""
    listing = _listing(spark, fixture_zips)
    fresh = CatalogState({"empresas": ["20230506"], "municipios": ["20230506"]})
    refreshed, run_jobs = _job_ids(spark, "unchanged-week-run", lambda: run_pipeline(
        spark, listing, fresh, str(fixture_zips / "warehouse"), str(fixture_zips / "scratch")
    ))
    assert refreshed == {}
    assert list(run_jobs) == []


def test_planner_inputs_are_local_relations(spark, fixture_zips):
    """Listings, manifests and status frames plan to ``LocalTableScan``
    (collected in the JVM without a job), not a pickled-RDD scan through
    Python workers — empty ones included."""
    listing = _listing(spark, fixture_zips)
    stale = CatalogState({"empresas": ["20230101"], "municipios": ["20230506"]})
    fresh = CatalogState({"empresas": ["20230506"], "municipios": ["20230506"]})
    frames = [
        listing,
        listing_df(spark, []),
        plan_updates(spark, listing, stale),
        plan_updates(spark, listing, fresh),
        plan_status(spark, listing, stale),
        plan_status(spark, listing_df(spark, []), stale),
    ]
    for df in frames:
        assert df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")
    assert [(r.table_name, r.date) for r in frames[2].collect()] == [("empresas", "20230506")]
    assert frames[3].collect() == [] and frames[5].collect() == []
    with pytest.raises(ValueError):  # a row of the wrong width is refused, not padded
        listing_df(spark, [("Empresas0.zip", "file://x", "2023-05-06 10:22")])


def test_new_table_without_listing_date_fails_before_download(spark, fixture_zips):
    """A new table whose listing date does not parse has no ``ref_date``
    to land under: the run raises before any download, and leaves no
    ``ref_date=None`` snapshot and no catalog table behind."""
    listing = listing_df(spark, [
        ListingRow("Municipios.zip", f"file://{fixture_zips}/Municipios.zip", "GARBAGE-DATE", False),
    ])
    wh, scratch = fixture_zips / "warehouse", fixture_zips / "scratch"
    spark.sql("CREATE DATABASE IF NOT EXISTS undated_guard")
    with pytest.raises(ValueError, match="municipios"):
        run_pipeline(spark, listing, CatalogState({}), str(wh), str(scratch), database="undated_guard")
    assert not (wh / "municipios" / "ref_date=None").exists()
    assert not scratch.exists() or not any(scratch.iterdir())
    assert not spark.catalog.tableExists("undated_guard.municipios")


def test_partition_overwrite_idempotent(spark, fixture_zips):
    """The snapshot commit replaces a ref_date: re-ingesting the same
    date must not duplicate rows (the reference's blind PutObject can)."""
    listing = _listing(spark, fixture_zips)
    wh = str(fixture_zips / "warehouse")
    for _ in range(2):
        run_pipeline(spark, listing, CatalogState({}), wh, str(fixture_zips / "scratch"))
    assert spark.sql("SELECT count(*) AS n FROM default.empresas").collect()[0].n == 3


def test_snapshot_writers_keep_other_dates_in_static_session(spark, tmp_path):
    """Both snapshot writers replace only their own ``ref_date``, even
    in a session left at Spark's default static overwrite mode (where a
    plain partitioned overwrite deletes every other snapshot)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = spark.createDataFrame([(1, "A")], "codigo long, desc string")
        writers = {
            "snapshot": write_snapshot,
            "clustered": lambda d, root, ref: write_clustered(d, root, ref, ["codigo"], 1),
        }
        for name, write in writers.items():
            root = str(tmp_path / name)
            write(df, root, "20240101")
            write(df, root, "20240108")
            parts = sorted(d for d in os.listdir(root) if d.startswith("ref_date="))
            assert parts == ["ref_date=20240101", "ref_date=20240108"], name
            assert spark.read.parquet(root).count() == 2, name
    finally:
        spark.conf.set(key, old)


def test_snapshots_land_zstd_and_read_back_outside_spark(spark, fixture_zips):
    """Every landed column chunk is zstd (the session's codec), and
    DuckDB reads the files to the same row count as Spark."""
    import duckdb
    import pyarrow.parquet as pq

    wh = fixture_zips / "warehouse"
    run_pipeline(
        spark, _listing(spark, fixture_zips), CatalogState({}), str(wh), str(fixture_zips / "scratch")
    )
    for table in ("empresas", "municipios"):
        codecs = set()
        for f in (wh / table).rglob("*.parquet"):
            meta = pq.read_metadata(f)
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                codecs |= {group.column(c).compression for c in range(group.num_columns)}
        assert codecs == {"ZSTD"}, (table, codecs)
        n_duck = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{wh / table}/*/*.parquet')"
        ).fetchone()[0]
        assert n_duck == spark.table(f"default.{table}").count() > 0


def test_read_unknown_table_fails(spark):
    with pytest.raises(KeyError):
        read_cnpj_csv(spark, ["/nonexistent.csv"], "not_a_table")


def test_estabelecimentos_30_cols(spark, tmp_path):
    row = ";".join(["1"] * 4 + ["NOME"] + ["2"] * 3 + ["X", "3", "20230101", "4711"] + ["f{}".format(i) for i in range(18)])
    p = tmp_path / "estab.csv"
    p.write_text(row + "\n", encoding="latin-1")
    df = read_cnpj_csv(spark, [str(p)], "estabelecimentos")
    assert len(df.columns) == 30
    assert df.count() == 1


def test_warehouse_maintenance_multi_snapshot(spark, fixture_zips):
    """Sink maintenance at warehouse shape (VERDICT r3 #8): a table with
    pipeline-landed snapshots plus a clustered bulk snapshot, where
    compaction (a) preserves the row-group pruning bands through the
    aside-rename swap and (b) leaves sibling snapshots untouched."""
    import glob

    import pyarrow.parquet as pq

    from aws_etl_dados_publicos_cnpj_spark.sources.sink import (
        compact_partition,
        register_table,
        write_clustered,
    )

    wh = str(fixture_zips / "warehouse")
    scratch = str(fixture_zips / "scratch")
    # snapshot 1 via the full pipeline
    run_pipeline(spark, _listing(spark, fixture_zips), CatalogState({}), wh, scratch)
    # snapshot 2: same files re-published a month later
    rows2 = [
        ListingRow("Empresas0.zip", f"file://{fixture_zips}/Empresas0.zip", "2023-06-10 09:00", False),
        ListingRow("Municipios.zip", f"file://{fixture_zips}/Municipios.zip", "2023-06-10 09:00", False),
    ]
    run_pipeline(
        spark,
        listing_df(spark, rows2),
        CatalogState({"empresas": ["20230506"], "municipios": ["20230506"]}),
        wh,
        scratch,
    )
    root = os.path.join(wh, "empresas")
    # snapshot 3: a bulk clustered snapshot of the same schema
    bulk = (
        spark.range(10_000)
        .select(
            F.col("id").cast("long").alias("cnpj_raiz"),
            F.concat(F.lit("EMPRESA "), F.col("id")).alias("raz_soc"),
            F.lit(2046).cast("int").alias("nat_jur"),
            F.lit(10).cast("int").alias("qual_resp"),
            (F.col("id") * 1.5).alias("cap_soc"),
            F.lit(3).cast("int").alias("porte"),
            F.lit(None).cast("string").alias("ente_fed"),
        )
    )
    write_clustered(bulk, root, "20230715", cluster_by=["cnpj_raiz"], files_per_partition=8)
    register_table(spark, "empresas", root)
    assert list_partitions(spark, "empresas") == ["20230506", "20230610", "20230715"]

    # compact 8 clustered files → 2, keeping the clustering
    n = compact_partition(spark, root, "20230715", target_files=2, cluster_by=["cnpj_raiz"])
    assert n == 10_000
    files = sorted(glob.glob(f"{root}/ref_date=20230715/*.parquet"))
    assert len(files) == 2
    # row-group pruning bands survive the swap: per-file cnpj_raiz
    # [min,max] ranges are disjoint
    bands = []
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index("cnpj_raiz")
        mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
        bands.append((min(mins), max(maxs)))
    bands.sort()
    assert bands[0][1] < bands[1][0]

    # catalog still serves every snapshot; siblings untouched
    per_part = {
        r.ref_date: r.n
        for r in spark.sql(
            "SELECT ref_date, count(*) AS n FROM default.empresas GROUP BY ref_date"
        ).collect()
    }
    assert per_part == {"20230506": 3, "20230610": 3, "20230715": 10_000}
    # partition pruning reaches the scan for a snapshot point query
    plan = (
        spark.sql(
            "SELECT * FROM default.empresas WHERE ref_date = '20230715' AND cnpj_raiz = 42"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "20230715" in plan


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """Two snapshots of a small dimension → added/removed/updated rows
    classified correctly, with both scans partition-pruned."""
    from aws_etl_dados_publicos_cnpj_spark.sources.sink import (
        register_table,
        snapshot_diff,
        write_snapshot,
    )

    root = str(tmp_path / "dimtbl")
    old = spark.createDataFrame(
        [(1, "acme", 10.0), (2, "beta", 20.0), (3, "gone", 30.0)],
        "k long, nome string, cap double",
    )
    new = spark.createDataFrame(
        [(1, "acme", 10.0), (2, "beta", 25.0), (4, "novel", 40.0)],
        "k long, nome string, cap double",
    )
    write_snapshot(old, root, 20240101)
    write_snapshot(new, root, 20240108)
    register_table(spark, "dimtbl", root)

    diff = snapshot_diff(spark, "dimtbl", 20240101, 20240108, ["k"])
    got = {(r.k, r.change) for r in diff.collect()}
    assert got == {(2, "updated"), (3, "removed"), (4, "added")}

    # both sides must be partition-pruned to exactly their snapshot
    # (plan toString truncates PartitionFilters at 100 chars by default)
    import re

    old_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = snapshot_diff(
            spark, "dimtbl", 20240101, 20240108, ["k"]
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    prunes = re.findall(r"PartitionFilters: \[[^\]]*= (\d+)\)", plan)
    assert sorted(prunes) == ["20240101", "20240108"], plan[:3000]


def test_partial_failure_resume_ingests_only_missing(spark, fixture_zips):
    """Crash-resume semantics (the state machine's retry story): if a
    prior run committed municipios but died before empresas, planning
    from the surviving catalog must ingest ONLY empresas, and the
    resumed warehouse must match a clean full run."""
    listing = _listing(spark, fixture_zips)
    wh = str(fixture_zips / "warehouse")
    partial = CatalogState({"municipios": ["20230506"]})
    manifest = plan_updates(spark, listing, partial).collect()
    assert [(r.table_name, r.date) for r in manifest] == [("empresas", "20230506")]
    refreshed = run_pipeline(
        spark, listing, partial, wh, str(fixture_zips / "scratch")
    )
    assert refreshed == {"empresas": "20230506"}
    emp = spark.sql("SELECT count(*) AS n FROM default.empresas").collect()[0].n
    assert emp == 3
    # and the now-complete catalog replans to a no-op
    complete = CatalogState(
        {"empresas": ["20230506"], "municipios": ["20230506"]}
    )
    assert plan_updates(spark, listing, complete).count() == 0


# --- catalog registration contract: register_table on a table that
# already exists at the same root syncs partitions in place ---


def _table_info(spark, table: str) -> dict[str, str]:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED default.{table}").collect()
    return {r.col_name: r.data_type for r in rows}


def _dim(spark, *keys: int):
    return spark.createDataFrame([(k, f"v{k}") for k in keys], "k long, v string")


def test_register_existing_table_adds_new_snapshot(spark, tmp_path):
    root = str(tmp_path / "reg_new")
    write_snapshot(_dim(spark, 1), root, "20240101")
    register_table(spark, "reg_new", root)
    write_snapshot(_dim(spark, 1, 2), root, "20240108")
    register_table(spark, "reg_new", root)
    assert list_partitions(spark, "reg_new") == ["20240101", "20240108"]
    assert spark.table("default.reg_new").filter("ref_date = '20240108'").count() == 2


def test_register_existing_table_reads_overwritten_partition(spark, tmp_path):
    root = str(tmp_path / "reg_over")
    write_snapshot(_dim(spark, 1), root, "20240101")
    register_table(spark, "reg_over", root)
    assert [r.k for r in spark.table("default.reg_over").collect()] == [1]  # lists the files
    write_snapshot(_dim(spark, 7, 8), root, "20240101")
    register_table(spark, "reg_over", root)
    assert sorted(r.k for r in spark.table("default.reg_over").collect()) == [7, 8]


def test_register_existing_table_drops_removed_partition(spark, tmp_path):
    import shutil

    root = str(tmp_path / "reg_gone")
    write_snapshot(_dim(spark, 1), root, "20240101")
    write_snapshot(_dim(spark, 2), root, "20240108")
    register_table(spark, "reg_gone", root)
    shutil.rmtree(os.path.join(root, "ref_date=20240101"))
    register_table(spark, "reg_gone", root)
    assert list_partitions(spark, "reg_gone") == ["20240108"]
    assert [r.k for r in spark.table("default.reg_gone").collect()] == [2]


def test_register_existing_table_does_not_keep_stale_statistics(spark, tmp_path):
    """``analyze_table`` statistics go when a snapshot is added and when
    one is overwritten in place (no partition added or dropped)."""
    root = str(tmp_path / "reg_stats")
    write_snapshot(_dim(spark, 1, 2), root, "20240101")
    register_table(spark, "reg_stats", root)
    assert "2 rows" in analyze_table(spark, "reg_stats")["Statistics"]
    write_snapshot(_dim(spark, 3, 4), root, "20240108")
    register_table(spark, "reg_stats", root)
    assert "Statistics" not in _table_info(spark, "reg_stats")
    assert "4 rows" in analyze_table(spark, "reg_stats")["Statistics"]
    write_snapshot(_dim(spark, 5, 6, 7), root, "20240108")
    register_table(spark, "reg_stats", root)
    assert "Statistics" not in _table_info(spark, "reg_stats")
    assert spark.table("default.reg_stats").count() == 5


def test_register_same_name_from_another_root_repoints(spark, tmp_path):
    first, second = str(tmp_path / "a" / "reg_move"), str(tmp_path / "b" / "reg_move")
    write_snapshot(_dim(spark, 1), first, "20240101")
    write_snapshot(_dim(spark, 5, 6), second, "20240108")
    register_table(spark, "reg_move", first)
    register_table(spark, "reg_move", second)
    assert _table_info(spark, "reg_move")["Location"] == f"file:{second}"
    assert list_partitions(spark, "reg_move") == ["20240108"]
    assert sorted(r.k for r in spark.table("default.reg_move").collect()) == [5, 6]


def test_register_existing_table_submits_no_jobs(spark, tmp_path):
    """Re-registering a table at its own root is catalog work only: no
    schema inference and no partition-listing job, also past the ten
    partitions where Spark's own partition recovery starts listing
    with a job."""
    root = str(tmp_path / "reg_jobs")
    df = _dim(spark, 1)
    for week in range(12):
        write_snapshot(df, root, str(20240101 + week))
    register_table(spark, "reg_jobs", root)
    write_snapshot(df, root, "20240201")
    _, jobs = _job_ids(spark, "register-existing", lambda: register_table(spark, "reg_jobs", root))
    assert list(jobs) == []
    assert len(list_partitions(spark, "reg_jobs")) == 13
    assert spark.table("default.reg_jobs").count() == 13


def test_register_table_root_with_apostrophe(spark, tmp_path):
    """The location is a quoted SQL literal: a root whose path holds
    ``'`` registers, and re-registers in place."""
    root = str(tmp_path / "o'brien" / "reg_quote")
    write_snapshot(_dim(spark, 1), root, "20240101")
    register_table(spark, "reg_quote", root)
    write_snapshot(_dim(spark, 2), root, "20240108")
    _, jobs = _job_ids(spark, "register-quoted", lambda: register_table(spark, "reg_quote", root))
    assert list(jobs) == []
    assert _table_info(spark, "reg_quote")["Location"] == f"file:{root}"
    assert sorted(r.k for r in spark.table("default.reg_quote").collect()) == [1, 2]


def test_latest_partition_skips_non_integer_values(spark, tmp_path):
    """One stray ``ref_date=oops`` directory does not break the
    latest-snapshot lookup: it is skipped, as the planner skips it."""
    root = str(tmp_path / "stray_ref")
    for ref in ("20240101", "20240108", "oops"):
        write_snapshot(_dim(spark, 1), root, ref)
    register_table(spark, "stray_ref", root)
    assert list_partitions(spark, "stray_ref") == ["20240101", "20240108", "oops"]
    assert latest_partition(spark, "stray_ref") == 20240108


def test_refresh_into_registered_warehouse_job_budget(spark, fixture_zips):
    """A refresh into a warehouse that already holds its tables submits
    exactly one write job per refreshed table: planning, acquisition
    and the catalog step add none."""
    wh, scratch = str(fixture_zips / "warehouse"), str(fixture_zips / "scratch")
    run_pipeline(spark, _listing(spark, fixture_zips), CatalogState({}), wh, scratch)
    week2 = listing_df(spark, [
        ListingRow("Empresas0.zip", f"file://{fixture_zips}/Empresas0.zip", "2023-06-10 09:00", False),
        ListingRow("Municipios.zip", f"file://{fixture_zips}/Municipios.zip", "2023-06-10 09:00", False),
    ])
    catalog = CatalogState({"empresas": ["20230506"], "municipios": ["20230506"]})
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))  # the pipeline's pool threads set no group
    refreshed, run_jobs = _job_ids(
        spark, "refresh-run", lambda: run_pipeline(spark, week2, catalog, wh, scratch)
    )
    pool_jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert refreshed == {"empresas": "20230610", "municipios": "20230610"}
    assert list(run_jobs) == []
    assert len(pool_jobs) == len(refreshed)
    assert list_partitions(spark, "empresas") == ["20230506", "20230610"]
