"""Seeded CNPJ fixture generator.

Writes the Receita Federal dialect the pipeline ingests: headerless,
latin-1, ``;``-delimited CSVs, every non-empty field double-quoted,
decimal-comma ``cap_soc``, raw ``YYYYMMDD`` dates, empty fields for
absent values. Fact tables are split into several zipped parts
(``Empresas0.zip`` ...); dimensions are single small zips. Output is a
pure function of the seed: zips carry a fixed member timestamp, so the
same seed gives byte-identical files.

Week 2 of a table is week 1 with seeded removes, updates and adds, so
``snapshot_diff`` has all three kinds of change to find.
"""

from __future__ import annotations

import os
import random
import zipfile
from dataclasses import dataclass, field

FACT_TABLES = ["empresas", "estabelecimentos", "socios", "simples"]
DIMENSIONS = ["cnaes", "motivos", "municipios", "naturezas", "paises", "qualificacoes"]
DIM_ROWS = {
    "cnaes": 1300,
    "motivos": 60,
    "municipios": 5570,
    "naturezas": 90,
    "paises": 250,
    "qualificacoes": 70,
}
FACT_PARTS = {"empresas": 3, "estabelecimentos": 4, "socios": 2, "simples": 2}

_WORDS = [
    "AÇAÍ", "SÃO", "JOSÉ", "CONCEIÇÃO", "MÃE", "GRAÇAS", "PÃO", "LIMÃO",
    "BRASÍLIA", "GOIÂNIA", "MACEIÓ", "VITÓRIA", "PADARIA", "ESTRELA",
    "TRANSPORTES", "COMÉRCIO", "INDÚSTRIA", "SERVIÇOS", "NORTE", "SUL",
]
_SUFFIX = ["LTDA", "S.A.", "ME", "EIRELI", ""]
_UFS = ["SP", "RJ", "MG", "BA", "PR", "RS", "PE", "CE", "AM", "GO"]


@dataclass(frozen=True)
class Sizes:
    """Rows per fact table in one week's snapshot."""

    empresas: int
    estabelecimentos: int
    socios: int
    simples: int
    churn: float = 0.02  # share of rows removed, updated and added in week 2


@dataclass
class TableFiles:
    """One table's files for one week: zip paths, row count, raw sizes,
    and a few rows kept to check the landed values against."""

    zips: list[str] = field(default_factory=list)
    rows: int = 0
    csv_bytes: int = 0
    zip_bytes: int = 0
    samples: list[tuple] = field(default_factory=list)


def _name(rng: random.Random, words: int = 3) -> str:
    text = " ".join(rng.choice(_WORDS) for _ in range(words))
    suffix = rng.choice(_SUFFIX)
    return f"{text} {suffix}".strip()


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1990, 2023)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"


def _dimension(table: str, rng: random.Random) -> list[tuple]:
    codes = sorted(rng.sample(range(1, 10_000_000), DIM_ROWS[table]))
    return [(c, f"{_name(rng, 2)} {i}") for i, c in enumerate(codes)]


def _fact_row(table: str, key: int, rng: random.Random, dims: dict[str, list[tuple]]) -> tuple:
    if table == "empresas":
        cap = f"{rng.randint(0, 5_000_000)},{rng.randint(0, 99):02d}"
        nat = rng.choice(dims["naturezas"])[0]
        uf = rng.choice(_UFS) if rng.random() < 0.1 else None
        return (key, f"{_name(rng)} {key}", nat, rng.randint(1, 70), cap, rng.choice([1, 3, 5]), uf)
    if table == "estabelecimentos":
        email = f"contato{key}@example.com.br" if rng.random() < 0.5 else None
        return (
            key, 1, rng.randint(10, 99), 1, _name(rng, 2) if rng.random() < 0.6 else None,
            rng.choice([2, 2, 2, 8]), _date(rng), rng.choice([0, 1, 71]), None, None,
            _date(rng), rng.choice(dims["cnaes"])[0],
            ",".join(str(rng.choice(dims["cnaes"])[0]) for _ in range(rng.randint(0, 2))) or None,
            "RUA", _name(rng, 2), str(rng.randint(1, 9999)), "SALA 1" if rng.random() < 0.2 else None,
            "CENTRO", f"{rng.randint(10_000_000, 99_999_999)}", rng.choice(_UFS),
            rng.choice(dims["municipios"])[0], str(rng.randint(11, 99)),
            str(rng.randint(30_000_000, 99_999_999)), None, None, None, None, email, None, None,
        )
    if table == "socios":
        return (
            key, rng.choice([1, 2]), _name(rng, 2), f"***{rng.randint(100_000, 999_999)}**",
            rng.choice(dims["qualificacoes"])[0], _date(rng), None, "***000000**", None,
            0, rng.randint(1, 9),
        )
    # simples
    opted = rng.random() < 0.4
    return (
        key, "S" if opted else "N", _date(rng) if opted else "00000000", "00000000",
        "S" if opted and rng.random() < 0.3 else "N", "00000000", "00000000",
    )


def _fmt(v) -> str:
    return "" if v is None else f'"{v}"'


def _line(row: tuple) -> str:
    return ";".join(_fmt(v) for v in row) + "\n"


def _write_zip(path: str, member: str, lines: list[str]) -> tuple[int, int]:
    data = "".join(lines).encode("latin-1")
    info = zipfile.ZipInfo(member, date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(info, data, compresslevel=1)
    return len(data), os.path.getsize(path)


def _mutate(table: str, rows: list[tuple], rng: random.Random, churn: float,
            dims: dict[str, list[tuple]], next_key: int) -> list[tuple]:
    """Week 2 of a fact table: drop, rewrite and add ``churn`` of the rows.
    Updated rows keep their key and change every other column. ``rows``
    holds ``(values, csv_line)`` pairs, so unchanged rows are not
    formatted again."""
    n = max(1, int(len(rows) * churn))
    picked = rng.sample(range(len(rows)), 2 * n)
    removed, updated = set(picked[:n]), set(picked[n:])
    out = []
    for i, row in enumerate(rows):
        if i in removed:
            continue
        out.append(_pair(_fact_row(table, row[0][0], rng, dims)) if i in updated else row)
    out.extend(_pair(_fact_row(table, next_key + j, rng, dims)) for j in range(n))
    return out


def _pair(row: tuple) -> tuple[tuple, str]:
    return row, _line(row)


def generate(out_dir: str, seed: int, sizes: Sizes, weeks: int = 2) -> list[dict[str, TableFiles]]:
    """Write ``weeks`` weekly snapshots of all 10 tables under
    ``out_dir/week<w>/`` and return, per week, ``{table: TableFiles}``.

    Keys are 8-digit ``cnpj_raiz`` values; ``socios`` and ``simples``
    reference ``empresas`` keys and the facts reference dimension codes,
    so the consumption joins match rows."""
    dims = {t: _dimension(t, random.Random(f"perfbench:{seed}:{t}")) for t in DIMENSIONS}
    facts: dict[str, list[tuple]] = {}
    for t in FACT_TABLES:
        rng = random.Random(f"perfbench:{seed}:{t}")
        n = getattr(sizes, t)
        facts[t] = [_pair(_fact_row(t, 10_000_000 + (rng.randrange(n) if t == "socios" else i),
                                    rng, dims)) for i in range(n)]
    out: list[dict[str, TableFiles]] = []
    for week in range(1, weeks + 1):
        wdir = os.path.join(out_dir, f"week{week}")
        os.makedirs(wdir, exist_ok=True)
        if week > 1:
            for t in FACT_TABLES:
                rng = random.Random(f"perfbench:{seed}:{t}:week{week}")
                facts[t] = _mutate(t, facts[t], rng, sizes.churn, dims,
                                   10_000_000 + week * 1_000_000 + getattr(sizes, t))
        files: dict[str, TableFiles] = {}
        for t in FACT_TABLES + DIMENSIONS:
            rows = facts.get(t) or [_pair(r) for r in dims[t]]
            parts = FACT_PARTS.get(t, 1)
            tf = TableFiles(rows=len(rows), samples=[r for r, _ in rows[:: max(1, len(rows) // 5)][:5]])
            step = -(-len(rows) // parts)
            for p in range(parts):
                # the Receita Federal's names: Empresas0.zip ... Cnaes.zip
                stem = t.capitalize() + (str(p) if t in FACT_PARTS else "")
                path = os.path.join(wdir, f"{stem}.zip")
                csv_b, zip_b = _write_zip(path, f"{stem}.CSV", [line for _, line in rows[p * step:(p + 1) * step]])
                tf.zips.append(path)
                tf.csv_bytes += csv_b
                tf.zip_bytes += zip_b
            files[t] = tf
        out.append(files)
    return out
