"""Acquisition: download + unzip (S18–S20,
``lambdas/fetch_data/fetch_data.py:57-66``; retry policy
``state_machines/state_machine.asl:68-77,109-118``).

The manifest (one row per source file, bounded by the listing's file
count) is collected to the driver **once**; the downloads then run in a
driver thread pool of ``MAX_CONCURRENT_DOWNLOADS`` — the reference's
Map ``maxConcurrency`` (``state_machine.asl:93-125``). Download and
inflate are socket, file and zlib work that release the GIL during the
1 MiB copies, so threads overlap them without a Python-worker job. Each
thread writes the extracted CSV under the scratch dir and returns its
path; the subsequent ``read_cnpj_csv`` over those paths is a normal
distributed scan. On a cluster the scratch dir is a shared filesystem
the executors can read.

Each file runs under the reference's retry policy (``retry``), except
errors no retry can fix — an HTTP 4xx or a missing ``file://`` path —
which fail on the first attempt. Every file is written to
``<final>.part`` and renamed into place, so a crash mid-download or
mid-extract leaves nothing at a final path.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import zipfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import IO, TypeVar
from urllib.error import HTTPError, URLError
from urllib.request import urlopen

from pyspark.sql import DataFrame

_T = TypeVar("_T")

# the reference's Map state over files (state_machine.asl:93-125)
MAX_CONCURRENT_DOWNLOADS = 10
# per socket operation, the same bound as fetch_listing (cnpj_infra_template.yml:135)
DOWNLOAD_TIMEOUT_S = 15.0
# large copies release the GIL once per MiB instead of once per 64 KiB
_COPY_BUFFER = 1 << 20
# HTTP 4xx codes that mean "try again later", not "this request is wrong"
_RETRYABLE_4XX = frozenset({408, 429})


def _is_permanent(exc: Exception) -> bool:
    """Errors a retry cannot fix: an HTTP 4xx (other than timeout and
    rate limit) or a ``file://`` path that does not exist."""
    if isinstance(exc, HTTPError):
        return 400 <= exc.code < 500 and exc.code not in _RETRYABLE_4XX
    return isinstance(exc, URLError) and isinstance(exc.reason, FileNotFoundError)


def retry(
    fn: Callable[[], _T],
    attempts: int = 3,
    interval_s: float = 60.0,
    backoff: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
) -> _T:
    """Reference retry policy: initial try + 2 retries, 60 s interval,
    backoff ×2 (``state_machine.asl:68-77``). Permanent errors
    (``_is_permanent``) are raised on the attempt that hit them."""
    delay = interval_s
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:
            if attempt == attempts - 1 or _is_permanent(exc):
                raise
            sleep(delay)
            delay *= backoff
    raise AssertionError("unreachable")


def _copy_to(src: IO[bytes], final_path: str) -> None:
    """Stream ``src`` to ``<final_path>.part``, then rename it into place;
    the ``.part`` is removed if the copy fails."""
    part = final_path + ".part"
    try:
        with open(part, "wb") as dst:
            shutil.copyfileobj(src, dst, _COPY_BUFFER)
        os.replace(part, final_path)
    finally:
        if os.path.exists(part):
            os.remove(part)


def _member_path(member: str, scratch_dir: str) -> str:
    """Place ``member`` under ``scratch_dir`` as ``ZipFile.extract`` does:
    drive, root and ``.``/``..`` parts dropped (``\\`` splits too), so the
    path cannot leave ``scratch_dir`` (no zip-slip) and keeps the
    member's name."""
    name = os.path.splitdrive(member)[1]
    parts = [p for p in re.split(r"[\\/]", name) if p not in ("", ".", "..")]
    if not parts:
        raise zipfile.BadZipFile(f"zip member {member!r} has no file name")
    return os.path.join(scratch_dir, *parts)


def download_and_extract(url: str, scratch_dir: str) -> str:
    """One file's acquisition: download the zip, extract its **first
    member** as the CSV (``fetch_data.py:64-66`` uses ``namelist()[0]``).

    Returns the extracted CSV path. Spark reads ``.gz`` natively but not
    ``.zip``, so this explicit step stays (SURVEY.md §2.1 S20).
    """
    os.makedirs(scratch_dir, exist_ok=True)
    zip_path = os.path.join(scratch_dir, os.path.basename(url.rstrip("/")) or "download.zip")
    with urlopen(url, timeout=DOWNLOAD_TIMEOUT_S) as resp:  # noqa: S310 - manifest URLs are operator-supplied
        _copy_to(resp, zip_path)
    try:
        with zipfile.ZipFile(zip_path) as zf:
            member = zf.namelist()[0]
            csv_path = _member_path(member, scratch_dir)
            os.makedirs(os.path.dirname(csv_path), exist_ok=True)
            with zf.open(member) as src:
                _copy_to(src, csv_path)
    finally:
        os.remove(zip_path)
    return csv_path


def acquire_manifest(manifest: DataFrame, scratch_dir: str) -> list[tuple[str, str, str]]:
    """Collect the manifest once and download its files in a driver
    thread pool.

    ``manifest`` columns: ``url, table_name, date`` (the reference's
    per-file event, ``README.md:230-237``). Returns
    ``[(table_name, date, csv_path), ...]`` in manifest order; an empty
    manifest (the unchanged week) costs the one collect and nothing else.
    The first failed file raises, and files not yet started are cancelled.
    """
    rows = manifest.collect()

    def _acquire(row) -> tuple[str, str, str]:
        path = retry(
            lambda: download_and_extract(row.url, scratch_dir),
            attempts=3,
            interval_s=1.0,  # local test cadence; prod uses 60 s
        )
        return row.table_name, str(row.date), path

    pool = ThreadPoolExecutor(max_workers=MAX_CONCURRENT_DOWNLOADS)
    try:
        return list(pool.map(_acquire, rows))
    finally:
        pool.shutdown(cancel_futures=True)
