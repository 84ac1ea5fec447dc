"""The benchmark's workloads: the CNPJ weekly refresh and the reads
users run over the warehouse it lands.

Each workload builds its inputs from the seed in ``setup`` and then
returns one pass of operations at a time. An operation returns its
output; ``check`` compares that output with what the inputs imply, and
the runner counts a failed check as a failed operation.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from aws_etl_dados_publicos_cnpj_spark.operators import cnpj_queries
from aws_etl_dados_publicos_cnpj_spark.plans import pipeline, planner
from aws_etl_dados_publicos_cnpj_spark.plans.pipeline import run_pipeline
from aws_etl_dados_publicos_cnpj_spark.plans.planner import CatalogState
from aws_etl_dados_publicos_cnpj_spark.sources import sink
from aws_etl_dados_publicos_cnpj_spark.sources.listing import ListingRow, listing_df
from pyspark.sql import functions as F

import gen
from spans import maybe_span

W1, W2 = "20230506", "20230513"
LISTED_AT = {W1: "2023-05-06 10:22", W2: "2023-05-13 09:41"}
ALL_TABLES = gen.FACT_TABLES + gen.DIMENSIONS
# week 2 of the refresh republishes the facts and two dimensions; the
# other four dimensions keep their week-1 files and must be skipped
REPUBLISHED = gen.FACT_TABLES + ["cnaes", "municipios"]


@dataclass
class Op:
    """One timed operation. ``primary`` ops feed ``op_s_p50``; the
    other one is the unchanged week, ``noop_refresh_s``."""

    name: str
    run: Callable[[object], object]
    check: Callable[[object], bool]
    primary: bool = True
    after: Callable[[], None] | None = None  # untimed clean-up


def parquet_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of the Parquet data files under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class _Warehouse:
    """Seeded inputs, a warehouse dir, and the pipeline calls on them."""

    sizes: gen.Sizes

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.wh = os.path.join(work_dir, "warehouse")
        self.weeks: list[dict[str, gen.TableFiles]] = []
        self.zip_bytes: dict[str, int] = {}  # extracted CSV name -> zip size

    def generate(self) -> None:
        self.weeks = gen.generate(os.path.join(self.work, "source"), self.seed, self.sizes)

    def listing(self, week_of: dict[str, str]):
        """``file://`` listing with each table's files from the given week."""
        rows = []
        for table, date in week_of.items():
            tf = self.weeks[0 if date == W1 else 1][table]
            for z in tf.zips:
                name = os.path.basename(z)
                self.zip_bytes[name[:-4] + ".CSV"] = os.path.getsize(z)
                rows.append(ListingRow(name, f"file://{z}", LISTED_AT[date], False))
        return listing_df(self.spark, rows)

    def refresh(self, listing, catalog: CatalogState, tracer) -> dict[str, str]:
        """One ``run_pipeline`` call; extracted CSVs stay in the scratch
        dir until ``clean_scratch``, outside the timed region."""
        scratch = os.path.join(self.work, "scratch")
        with maybe_span(tracer, "pipeline.run_pipeline", pool=True):
            out = run_pipeline(self.spark, listing, catalog, self.wh, scratch)
        if tracer:
            tracer.count("planner.tables_refreshed", len(out))
            tracer.count("planner.tables_skipped", len(ALL_TABLES) - len(out))
        return out

    def clean_scratch(self) -> None:
        shutil.rmtree(os.path.join(self.work, "scratch"), ignore_errors=True)

    def refresh_op(self, name: str, listing, catalog: CatalogState, expected: dict) -> Op:
        """A ``run_pipeline`` op; one that expects ``{}`` is the unchanged week."""
        return Op(name, lambda t: self.refresh(listing, catalog, t),
                  lambda out: out == expected, primary=bool(expected), after=self.clean_scratch)

    def csv_bytes(self, week: int, tables) -> int:
        return sum(self.weeks[week][t].csv_bytes for t in tables)


class Refresh(_Warehouse):
    """``cnpj_weekly_refresh``: each pass refreshes week 2 against a
    week-1 catalog (identical work every pass, through dynamic partition
    overwrite), then runs the unchanged week against a week-2 catalog."""

    name = "cnpj_weekly_refresh"
    sizes = gen.Sizes(empresas=50_000, estabelecimentos=50_000, socios=40_000, simples=40_000)

    def setup(self) -> None:
        self.generate()
        self.listing_w1 = self.listing(dict.fromkeys(ALL_TABLES, W1))
        week2 = dict.fromkeys(ALL_TABLES, W1) | dict.fromkeys(REPUBLISHED, W2)
        self.listing_w2 = self.listing(week2)
        self.catalog_w1 = CatalogState({t: [W1] for t in ALL_TABLES})
        self.catalog_w2 = CatalogState(
            {t: [W1, W2] if t in REPUBLISHED else [W1] for t in ALL_TABLES}
        )
        landed = self.refresh(self.listing_w1, CatalogState({}), None)
        self.clean_scratch()
        if landed != dict.fromkeys(ALL_TABLES, W1):
            raise RuntimeError(f"week-1 landing refreshed {landed}")
        self.csv_mb = self.csv_bytes(1, REPUBLISHED) / 1e6

    def expect(self) -> None:
        """The expected outputs follow from the generator's counts."""

    def pass_ops(self, rng: random.Random) -> list[Op]:
        return [
            self.refresh_op("refresh", self.listing_w2, self.catalog_w1,
                            dict.fromkeys(REPUBLISHED, W2)),
            self.refresh_op("noop", self.listing_w2, self.catalog_w2, {}),
        ]

    def final_check(self) -> list[str]:
        """Row counts per table equal the generator's, and sampled rows
        round-trip latin-1 text and ``cap_soc`` as a double."""
        problems = []
        for t in ALL_TABLES:
            date = W2 if t in REPUBLISHED else W1
            want = self.weeks[1 if date == W2 else 0][t].rows
            got = self.spark.table(f"default.{t}").filter(f"ref_date = '{date}'").count()
            if got != want:
                problems.append(f"{t}@{date}: {got} rows, generated {want}")
        samples = self.weeks[1]["empresas"].samples
        rows = {
            r.cnpj_raiz: r
            for r in self.spark.table("default.empresas")
            .filter(f"ref_date = '{W2}'")
            .filter(F.col("cnpj_raiz").isin([s[0] for s in samples]))
            .collect()
        }
        for s in samples:
            r = rows.get(s[0])
            cap = float(s[4].replace(",", "."))
            if r is None or r.raz_soc != s[1] or not isinstance(r.cap_soc, float) or r.cap_soc != cap:
                problems.append(f"empresas sample {s[0]}: landed {r}, generated {s}")
        return problems

    def stored_ratio(self) -> float:
        parquet = sum(
            parquet_bytes(os.path.join(self.wh, t, f"ref_date={W2}"))[1] for t in REPUBLISHED
        )
        return parquet / self.csv_bytes(1, REPUBLISHED)


# DuckDB twins of the consumption operations, over the landed Parquet.
# ``{t}`` names a view of table t's latest snapshot; ``{t}_w1``/``_w2``
# name its two snapshots.
_EMPRESAS_DATA = ["raz_soc", "nat_jud", "qualif_resp", "cap_soc", "porte", "ent_fed"]
ORACLES = {
    "companies_by_municipality": """
        SELECT m."desc" AS municipio, count(*) AS n_estabelecimentos
        FROM estabelecimentos e JOIN municipios m ON e.end_cod_muni = m.codigo
        GROUP BY m."desc" """,
    "capital_by_company_size": """
        SELECT porte, count(*) AS n_empresas, round(sum(cap_soc), 2) AS total_capital,
               round(avg(cap_soc), 2) AS avg_capital
        FROM empresas GROUP BY porte""",
    "partners_per_company": """
        SELECT e.cnpj_raiz, e.raz_soc, n."desc" AS natureza_juridica,
               coalesce(c.n_socios, 0) AS n_socios
        FROM empresas e
        LEFT JOIN (SELECT cnpj_raiz, count(*) AS n_socios FROM socios GROUP BY 1) c
          ON e.cnpj_raiz = c.cnpj_raiz
        LEFT JOIN naturezas n ON e.nat_jud = n.codigo""",
    "simples_adherence": """
        SELECT count(*) AS n_empresas, sum(coalesce(s.opted, 0)) AS n_simples,
               round(CASE WHEN count(*) > 0
                     THEN sum(coalesce(s.opted, 0)) / count(*) ELSE 0 END, 4) AS adherence
        FROM empresas e
        LEFT JOIN (SELECT DISTINCT cnpj_raiz, 1 AS opted FROM simples
                   WHERE opcao_simpl = 'S') s ON e.cnpj_raiz = s.cnpj_raiz""",
    "main_activity_ranking": """
        SELECT c."desc" AS atividade, count(*) AS n_estabelecimentos
        FROM estabelecimentos e JOIN cnaes c ON e.cnae_pri = c.codigo
        GROUP BY c."desc" """,
    "snapshot_diff": f"""
        SELECT coalesce(o.cnpj_raiz, n.cnpj_raiz) AS cnpj_raiz,
               CASE WHEN o.cnpj_raiz IS NULL THEN 'added'
                    WHEN n.cnpj_raiz IS NULL THEN 'removed' ELSE 'updated' END AS change
        FROM empresas_w1 o FULL OUTER JOIN empresas_w2 n ON o.cnpj_raiz = n.cnpj_raiz
        WHERE o.cnpj_raiz IS NULL OR n.cnpj_raiz IS NULL
           OR {" OR ".join(f"o.{c} IS DISTINCT FROM n.{c}" for c in _EMPRESAS_DATA)}""",
}
QUERIES = {
    name: getattr(cnpj_queries, name) for name in ORACLES if name != "snapshot_diff"
}


def canonical(rows: list[tuple]) -> list[tuple]:
    """Order-insensitive form of a result: rows sorted on their text,
    with floats rounded for the sort key only."""
    def key(row):
        return tuple(repr(round(v, 2) if isinstance(v, float) else v) for v in row)
    return sorted((tuple(r) for r in rows), key=key)


# last-place unit of the rounded float columns each operation returns:
# two engines summing in another order may differ by one such unit
ROUNDING = {"capital_by_company_size": 0.01, "simples_adherence": 1e-4}


def same_result(got: list[tuple], want: list[tuple], unit: float = 0.0) -> bool:
    """Row-for-row equality after ``canonical``; floats within 1.5
    rounding ``unit`` (a one-unit flip passes, a wrong rounding does
    not), or within 1e-9 relative when unrounded."""
    if len(got) != len(want):
        return False
    for g, w in zip(canonical(got), canonical(want)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=0.0 if unit else 1e-9, abs_tol=1.5 * unit):
                    return False
            elif a != b:
                return False
    return True


class Consume(_Warehouse):
    """``cnpj_consume``: a two-snapshot warehouse landed by
    ``run_pipeline``; each pass runs the five ``cnpj_queries``
    functions and ``snapshot_diff`` in a seeded order, plus the
    unchanged-week refresh a scheduler fires before serving reads."""

    name = "cnpj_consume"
    sizes = gen.Sizes(empresas=10_000, estabelecimentos=10_000, socios=8_000, simples=8_000)

    def setup(self) -> None:
        self.generate()
        w1 = self.refresh(self.listing(dict.fromkeys(ALL_TABLES, W1)), CatalogState({}), None)
        self.listing_w2 = self.listing(dict.fromkeys(ALL_TABLES, W2))
        w2 = self.refresh(self.listing_w2, CatalogState({t: [W1] for t in ALL_TABLES}), None)
        self.clean_scratch()
        if w1 != dict.fromkeys(ALL_TABLES, W1) or w2 != dict.fromkeys(ALL_TABLES, W2):
            raise RuntimeError(f"landing refreshed {w1} then {w2}")
        self.catalog_w2 = CatalogState({t: [W1, W2] for t in ALL_TABLES})
        self.expected: dict[str, list[tuple]] = {}

    def expect(self) -> None:
        """Run the DuckDB twins over the landed Parquet."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ALL_TABLES:
                src = (f"read_parquet('{self.wh}/{t}/*/*.parquet', hive_partitioning = true, "
                       f"hive_types = {{'ref_date': VARCHAR}})")
                con.execute(f"CREATE VIEW {t}_all AS SELECT * FROM {src}")
                for tag, date in (("w1", W1), ("w2", W2)):
                    con.execute(f"CREATE VIEW {t}_{tag} AS SELECT * FROM {t}_all "
                                f"WHERE ref_date = '{date}'")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_all WHERE ref_date = "
                            f"(SELECT max(CAST(ref_date AS INTEGER))::VARCHAR FROM {t}_all)")
            for name, sql in ORACLES.items():
                self.expected[name] = con.execute(sql).fetchall()
        finally:
            con.close()

    def _query(self, name: str, build: Callable[[], object]) -> Op:
        def run(tracer):
            with maybe_span(tracer, "operators.construct"):
                df = build()
            with maybe_span(tracer, "operators.plan"):
                df._jdf.queryExecution().executedPlan()
            with maybe_span(tracer, "operators.execute"):
                rows = df.collect()
            if tracer:
                tracer.count("operators.result_rows", len(rows))
            return rows

        return Op(name, run, lambda rows: same_result(rows, self.expected[name],
                                                      ROUNDING.get(name, 0.0)))

    def pass_ops(self, rng: random.Random) -> list[Op]:
        ops = [self._query(n, lambda fn=fn: fn(self.spark)) for n, fn in QUERIES.items()]
        ops.append(self._query(
            "snapshot_diff",
            lambda: sink.snapshot_diff(self.spark, "empresas", W1, W2, ["cnpj_raiz"]),
        ))
        rng.shuffle(ops)
        ops.append(self.refresh_op("noop", self.listing_w2, self.catalog_w2, {}))
        return ops

    def final_check(self) -> list[str]:
        return []  # every operation's output is checked against DuckDB

    def stored_ratio(self) -> float:
        return parquet_bytes(self.wh)[1] / (self.csv_bytes(0, ALL_TABLES) + self.csv_bytes(1, ALL_TABLES))


WORKLOADS = {w.name: w for w in (Refresh, Consume)}


def install_spans(tracer, workload: _Warehouse) -> None:
    """Wrap the package's functions where the package binds them."""
    tracer.wrap(planner, "plan_updates", "planner.plan_updates")

    def acquired(result):
        files = len(result)
        tracer.count("planner.manifest_rows", files)
        tracer.count("acquisition.files", files)
        tracer.count("acquisition.csv_mb", sum(os.path.getsize(p) for _, _, p in result) / 1e6)
        tracer.count("acquisition.zip_mb", sum(
            workload.zip_bytes[os.path.basename(p)] for _, _, p in result) / 1e6)

    def written(result, df, table_root, ref_date, *args, **kwargs):
        files, size = parquet_bytes(os.path.join(table_root, f"ref_date={ref_date}"))
        tracer.count("sink.files_written", files)
        tracer.count("sink.parquet_mb", size / 1e6)

    tracer.wrap(pipeline, "acquire_manifest", "acquisition.acquire_manifest",
                lambda result, *a, **k: acquired(result))
    tracer.wrap(pipeline, "read_cnpj_csv", "cnpj_csv.read_cnpj_csv")
    tracer.wrap(pipeline, "write_snapshot", "sink.write_snapshot", written)
    tracer.wrap(pipeline, "register_table", "sink.register_table")
    tracer.wrap(cnpj_queries, "latest_partition", "sink.latest_partition")
