"""Frozen schemas for the 10 CNPJ tables.

The reference assigns column names positionally to headerless CSVs
(``lambdas/fetch_data/fetch_data.py:18-46``) and lets pyarrow/Glue infer
types (``fetch_data.py:69-74``; crawler ``state_machines/state_machine.asl:132-139``).
We freeze the inferred types instead (SURVEY.md §1.4): explicit
``StructType`` per table, with the decimal-comma money column
(``cap_soc``) typed STRING at read time and cast after normalization
(``fetch_data.py:73`` uses ``ConvertOptions(decimal_point=',')`` — Spark's
CSV reader has no such option, so the cast lives in the source; see
``sources/cnpj_csv.py``).

Types follow the Glue catalog sample at
``lambdas/check_update/check_update.py:154-183`` where given (bigint /
string / double), inferred elsewhere (FIXTURES.md §A).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Allow-list mirroring ``lambdas/check_update/check_update.py:16-20``.
ALLOWED_TABLE_NAMES = [
    "empresas",
    "estabelecimentos",
    "socios",
    "simples",
    "cnaes",
    "motivos",
    "municipios",
    "naturezas",
    "paises",
    "qualificacoes",
]

PARTITION_COLUMN = "ref_date"  # YYYYMMDD string, added at write time


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype, nullable=True)


_LONG = T.LongType()
_STR = T.StringType()

# Columns that carry decimal-comma numerics in the source CSV and must be
# read as string then cast to double (``fetch_data.py:73``).
DECIMAL_COMMA_COLUMNS: dict[str, list[str]] = {
    "empresas": ["cap_soc"],
}

# Ordered column lists from ``lambdas/fetch_data/fetch_data.py:18-46``.
_DIMENSION_FIELDS = [_f("codigo", _LONG), _f("desc", _STR)]

RAW_SCHEMAS: dict[str, T.StructType] = {
    "empresas": T.StructType(
        [
            _f("cnpj_raiz", _LONG),
            _f("raz_soc", _STR),
            _f("nat_jud", _LONG),
            _f("qualif_resp", _LONG),
            _f("cap_soc", _STR),  # decimal-comma; cast to double post-read
            _f("porte", _LONG),
            _f("ent_fed", _STR),
        ]
    ),
    "municipios": T.StructType(_DIMENSION_FIELDS),
    "cnaes": T.StructType(_DIMENSION_FIELDS),
    "naturezas": T.StructType(_DIMENSION_FIELDS),
    "qualificacoes": T.StructType(_DIMENSION_FIELDS),
    "paises": T.StructType(_DIMENSION_FIELDS),
    "motivos": T.StructType(_DIMENSION_FIELDS),
    "socios": T.StructType(
        [
            _f("cnpj_raiz", _LONG),
            _f("tpes_soc", _LONG),
            _f("nome_soc", _STR),
            _f("cpf_cnpj_soc", _STR),
            _f("cod_qualif_soc", _LONG),
            _f("dt_entrada", _STR),
            _f("cod_pais", _LONG),
            _f("cpf_rep_legal", _STR),
            _f("nome_rep_legal", _STR),
            _f("cod_qualif_rep", _LONG),
            _f("fx_etaria_soc", _LONG),
        ]
    ),
    "simples": T.StructType(
        [
            _f("cnpj_raiz", _LONG),
            _f("opcao_simpl", _STR),
            _f("dt_opcao_simpl", _STR),
            _f("dt_exclusao_simpl", _STR),
            _f("opcao_mei", _STR),
            _f("dt_opcao_mei", _STR),
            _f("dt_exclusao_mei", _STR),
        ]
    ),
    "estabelecimentos": T.StructType(
        [
            _f("cnpj_raiz", _LONG),
            _f("filial", _LONG),
            _f("dv", _LONG),
            _f("cod_id_tipo", _LONG),
            _f("nome_fant", _STR),
            _f("cod_sit_cad", _LONG),
            _f("dt_ref_sit_cad", _STR),
            _f("cod_mot_sit_cad", _LONG),
            _f("nom_cidade_ext", _STR),
            _f("cod_pais", _LONG),
            _f("dt_abrt", _STR),
            _f("cnae_pri", _LONG),
            _f("cnae_sec", _STR),
            _f("end_tipo", _STR),
            _f("end_desc", _STR),
            _f("end_num", _STR),
            _f("end_compl", _STR),
            _f("end_bairro", _STR),
            _f("end_cep", _STR),
            _f("end_uf", _STR),
            _f("end_cod_muni", _LONG),
            _f("ddd1", _STR),
            _f("tel1", _STR),
            _f("ddd2", _STR),
            _f("tel2", _STR),
            _f("ddd_fax", _STR),
            _f("fax", _STR),
            _f("email", _STR),
            _f("sit_espec", _STR),
            _f("dt_sit_espec", _STR),
        ]
    ),
}

