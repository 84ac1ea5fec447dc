"""Listing HTML parse (S1-S2), the retry wrapper (S18) and acquisition
failures (S19-S20)."""

from __future__ import annotations

import io
import os
import zipfile
from urllib.error import HTTPError, URLError
from urllib.request import urlopen

import pytest

from aws_etl_dados_publicos_cnpj_spark.sources.acquisition import retry
from aws_etl_dados_publicos_cnpj_spark.sources.listing import parse_listing_html

INDEX_HTML = """
<html><body><table>
<tr><th>Icon</th><th>Name</th><th>Last modified</th><th>Size</th></tr>
<tr><th colspan="4"><hr></th></tr>
<tr><td><img src="/icons/back.gif"></td><td><a href="/up">Parent Directory</a></td><td></td><td>-</td></tr>
<tr><td><img src="/icons/folder.gif"></td><td><a href="regime/">regime/</a></td><td>2023-04-14 10:00</td><td>-</td></tr>
<tr><td><img src="/icons/compressed.gif"></td><td><a href="Empresas0.zip">Empresas0.zip</a></td><td>2023-05-06 10:22</td><td>200M</td></tr>
<tr><td><img src="/icons/compressed.gif"></td><td><a href="Municipios.zip">Municipios.zip</a></td><td>2023-05-06 10:23</td><td>1M</td></tr>
<tr><th colspan="4"><hr></th></tr>
</table></body></html>
"""


def test_parse_listing_slices_chrome_and_flags_folders():
    rows = parse_listing_html(INDEX_HTML)
    # first 3 rows (header, hr, parent) and final hr row are dropped
    assert [r.file_name for r in rows] == ["regime/", "Empresas0.zip", "Municipios.zip"]
    assert [r.is_folder for r in rows] == [True, False, False]
    assert rows[1].href == "Empresas0.zip"
    assert rows[1].last_modified == "2023-05-06 10:22"


def test_retry_succeeds_after_failures():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert retry(flaky, attempts=3, interval_s=60.0, backoff=2.0, sleep=sleeps.append) == "ok"
    assert sleeps == [60.0, 120.0]  # reference policy: 60 s interval, x2 backoff


def test_retry_exhausts():
    def always_fails():
        raise OSError("down")

    with pytest.raises(OSError):
        retry(always_fails, attempts=2, interval_s=0.0, sleep=lambda _: None)


@pytest.mark.parametrize(("code", "calls"), [(404, 1), (403, 1), (429, 3), (503, 3)])
def test_retry_fails_fast_on_client_errors(code, calls):
    """A 4xx cannot succeed on a retry (408/429 say "later"): one call,
    no sleep. Server errors keep the reference policy."""
    made: list[int] = []
    sleeps: list[float] = []

    def fetch():
        made.append(code)
        raise HTTPError("http://example.invalid/Empresas0.zip", code, "status", {}, None)

    with pytest.raises(HTTPError):
        retry(fetch, attempts=3, interval_s=60.0, sleep=sleeps.append)
    assert len(made) == calls
    assert sleeps == [60.0, 120.0][: calls - 1]


def test_retry_fails_fast_on_missing_file_url(tmp_path):
    made: list[str] = []
    sleeps: list[float] = []

    def fetch():
        made.append("call")
        return urlopen(f"file://{tmp_path}/does_not_exist.zip")

    with pytest.raises(URLError) as err:
        retry(fetch, attempts=3, interval_s=60.0, sleep=sleeps.append)
    assert isinstance(err.value.reason, FileNotFoundError)
    assert made == ["call"] and sleeps == []


def test_acquisition_failure_surfaces(spark, tmp_path):
    """A dead manifest URL must fail the run loudly, not land a partial
    snapshot silently (a missing file fails on the first attempt)."""
    from aws_etl_dados_publicos_cnpj_spark.sources.acquisition import acquire_manifest

    manifest = spark.createDataFrame(
        [(f"file://{tmp_path}/does_not_exist.zip", "municipios", "20230506")],
        "url string, table_name string, date string",
    )
    with pytest.raises(Exception):
        acquire_manifest(manifest, str(tmp_path / "scratch"))


def _broken_zip(kind: str) -> bytes:
    """A zip whose download succeeds but whose extraction fails: cut off
    before the central directory, or with a flipped byte in a stored
    member that spans several copy buffers (CRC error mid-extract)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("Municipios.CSV", b"3550308;SAO PAULO\n" * 200_000)
    data = bytearray(buf.getvalue())
    if kind == "truncated":
        return bytes(data[: len(data) // 2])
    data[len(data) // 2] ^= 0xFF
    return bytes(data)


@pytest.mark.parametrize("kind", ["truncated", "corrupt"])
def test_broken_zip_leaves_no_final_file(spark, tmp_path, kind):
    """Downloads and extracts go through ``<final>.part`` + rename: a zip
    that fails to extract raises, and neither the zip nor the CSV is left
    at its final name for a later run to mistake for a finished file."""
    from aws_etl_dados_publicos_cnpj_spark.sources.acquisition import acquire_manifest

    (tmp_path / "Municipios.zip").write_bytes(_broken_zip(kind))
    manifest = spark.createDataFrame(
        [(f"file://{tmp_path}/Municipios.zip", "municipios", "20230506")],
        "url string, table_name string, date string",
    )
    scratch = tmp_path / "scratch"
    with pytest.raises(zipfile.BadZipFile):
        acquire_manifest(manifest, str(scratch))
    assert list(scratch.iterdir()) == []


@pytest.mark.parametrize("member", ["../../Municipios.CSV", "/abs/Municipios.CSV", "d/../../Municipios.CSV"])
def test_extract_stays_under_scratch_dir(tmp_path, member):
    """No zip-slip: a hostile member name lands under the scratch dir,
    keeping its file name, as ``ZipFile.extract`` would place it."""
    from aws_etl_dados_publicos_cnpj_spark.sources.acquisition import download_and_extract

    zip_path = tmp_path / "Municipios.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(member, b"3550308;SAO PAULO\n")
    scratch = tmp_path / "run" / "scratch"
    csv_path = download_and_extract(f"file://{zip_path}", str(scratch))
    assert os.path.realpath(csv_path).startswith(os.path.realpath(scratch) + os.sep)
    assert os.path.basename(csv_path) == "Municipios.CSV"
    assert open(csv_path, "rb").read() == b"3550308;SAO PAULO\n"
    assert os.listdir(tmp_path / "run") == ["scratch"]
