"""Paginated remote-source connector -> the canonical pages table (S11/S12).

The reference ingests Confluence spaces and Jira projects by iterating
paginated REST endpoints per configured unit (reference index.py SOURCES
registry; Confluence CQL paging, Jira JQL ``startAt`` paging) with an
updated-since filter for incremental runs. The distributed analog:

  * the DRIVER enumerates work units (spaces / projects — a handful to a
    few thousand, never corpus-sized) into a tiny DataFrame;
  * EXECUTORS run the cursor loop per unit inside ``mapInPandas`` —
    pagination is inherently sequential WITHIN a unit, parallel ACROSS
    units, which is exactly how a fleet of connector workers drains a
    remote API without hammering one endpoint;
  * the HTTP client is injected as a ``models.ModelSpec`` (factory +
    frozen kwargs) and constructed AT MOST ONCE PER WORKER via the same
    per-process cache the embedder/reranker use — connection pools and
    auth tokens are per-worker state, never per-batch;
  * ``updated_since`` is forwarded to the client (the reference's
    ``lastmodified >=`` CQL / ``updated >=`` JQL) so incremental runs push
    the filter to the SERVER — unchanged pages are never even fetched;
  * each pagination round is yielded as its own Arrow batch, so worker
    memory is bounded by ``page_size`` regardless of unit size.

No network in this environment: the client protocol is exercised by a
deterministic in-process fake (tests/test_rest.py), and a real
requests-based client drops in as ``ModelSpec(MyHttpClient, base_url=...)``
with no connector changes.

Client protocol (structural):
    fetch(unit, cursor, page_size, updated_since)
        -> (rows, next_cursor | None)
    where rows is a list of dicts with keys
    {url, warc_ts, html, lang, remote_id, version}; the client applies
    ``updated_since`` server-side; ``cursor=None`` starts the scan.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..models import ModelSpec
from ..session import local_frame

PAGES_REST_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "extras map<string,string>"
)


def fetch_pages(
    spark: SparkSession,
    units: list[str],
    client: ModelSpec,
    page_size: int = 100,
    updated_since: dt.datetime | None = None,
    source_format: str = "rest",
    max_rounds_per_unit: int = 100_000,
    unit_retries: int = 2,
    quarantine_errors: bool = True,
) -> DataFrame:
    """Drain every unit's paginated feed -> canonical pages DataFrame.

    Provenance rides in ``extras``: source_format, unit, remote_id,
    version — the ragged-metadata channel the rest of the pipeline already
    understands (readers.py).

    Termination guards (a real HTTP client with a pagination bug — an
    unchanged or cycling cursor — must not spin an executor task forever):
    an unchanged cursor and a round count past ``max_rounds_per_unit``
    (default 100k rounds ≈ 10M rows/unit at the default page size — raise
    it for genuinely larger units) both terminate the unit.

    Convert-or-skip policy (the stage-1 discipline applied to the
    connector): a ``c.fetch`` call that raises is retried in place — same
    cursor, so already-emitted pages never duplicate — up to
    ``unit_retries`` times; a unit whose fetches keep raising, or that
    trips a termination guard, ends as ONE quarantine row
    (``url = rest-quarantine://<source_format>/<unit>``, empty html,
    ``extras`` carrying ``quarantined='1'``, the error, the failing
    cursor and the round count) instead of failing the whole Spark task —
    on a 10k-unit nightly sync one misconfigured space must cost one
    quarantine row, not the job. Pages fetched before the failure are
    kept (the quarantine row marks the unit INCOMPLETE; the incremental
    version-ledger re-fetches it next run). ``quarantine_errors=False``
    restores fail-fast raising for debugging a client.

    ``html`` may come back as str or bytes from the client; both are
    accepted (bytes pass through, str is utf-8 encoded).
    """
    import pandas as pd

    unit_df = local_frame(
        spark, [(u,) for u in units], "unit string"
    ).repartition(max(1, min(len(units), 32)))

    def page_df(unit, rows: list) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "url": [r["url"] for r in rows],
                "warc_ts": [r["warc_ts"] for r in rows],
                "html": [
                    r["html"]
                    if isinstance(r["html"], bytes)
                    else r["html"].encode("utf-8")
                    for r in rows
                ],
                "text": [None] * len(rows),
                "lang": [r.get("lang") for r in rows],
                "extras": [
                    {
                        "source_format": source_format,
                        "unit": unit,
                        "remote_id": str(r["remote_id"]),
                        "version": str(r["version"]),
                    }
                    for r in rows
                ],
            }
        )

    def quarantine_df(unit, err: str, cursor, rounds: int) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "url": [f"rest-quarantine://{source_format}/{unit}"],
                "warc_ts": [None],
                "html": [b""],
                "text": [None],
                "lang": [None],
                "extras": [
                    {
                        "source_format": source_format,
                        "unit": unit,
                        "quarantined": "1",
                        "error": err[:500],
                        "cursor": repr(cursor),
                        "rounds": str(rounds),
                    }
                ],
            }
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = client.resolve()  # once per worker process (models._PROCESS_CACHE)
        for pdf in batches:
            for unit in pdf["unit"]:
                cursor = None
                rounds = 0
                failures = 0
                quarantine_err = None
                while True:
                    prev_cursor = cursor
                    try:
                        rows, cursor = c.fetch(
                            unit, cursor, page_size, updated_since
                        )
                    except Exception as e:  # noqa: BLE001 — client fault
                        if not quarantine_errors:
                            raise
                        failures += 1
                        if failures > unit_retries:
                            quarantine_err = (
                                f"fetch raised {failures}x at cursor "
                                f"{prev_cursor!r}: {type(e).__name__}: {e}"
                            )
                            break
                        cursor = prev_cursor  # retry the SAME page
                        continue
                    failures = 0  # a clean page resets the retry budget
                    rounds += 1
                    if cursor is not None and cursor == prev_cursor:
                        msg = (
                            f"client returned an unchanged cursor "
                            f"{cursor!r} for unit {unit!r} — pagination "
                            f"is not progressing"
                        )
                        if not quarantine_errors:
                            raise RuntimeError(f"rest connector: {msg}")
                        quarantine_err = msg
                        break
                    # the cap applies only to CONTINUING pagination: a unit
                    # whose final page lands exactly on the cap (cursor is
                    # None) has legitimately finished — its rows must be
                    # yielded and the loop breaks below, not raise. Strictly
                    # greater: a client that terminates with a trailing
                    # ([], None) sentinel gets its full max_rounds of data
                    # pages (the cap fires on round max+1 at the earliest)
                    if cursor is not None and rounds > max_rounds_per_unit:
                        msg = (
                            f"unit {unit!r} exceeded {max_rounds_per_unit} "
                            f"pagination rounds — cycling cursor or unit "
                            f"too large (raise max_rounds_per_unit)"
                        )
                        if not quarantine_errors:
                            raise RuntimeError(f"rest connector: {msg}")
                        quarantine_err = msg
                        break
                    if rows:
                        yield page_df(unit, rows)
                    if cursor is None:
                        break
                if quarantine_err is not None:
                    yield quarantine_df(
                        unit, quarantine_err, prev_cursor, rounds
                    )

    return unit_df.mapInPandas(run, schema=PAGES_REST_SCHEMA)


def split_quarantined(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_pages, quarantine_rows) — route connector quarantine rows
    out of the pipeline input and into the stage-1 quarantine table."""
    flag = F.element_at("extras", "quarantined") == "1"
    return pages.where(~F.coalesce(flag, F.lit(False))), pages.where(flag)


def incremental_frontier(
    fetched: DataFrame, state_docs: DataFrame
) -> DataFrame:
    """Of the fetched pages, the ones whose remote version differs from the
    stored state — the version-ledger fast path (reference: Confluence
    version / Jira updated field checked before re-downloading bodies).
    ``state_docs`` needs (url, extras['version']); rows absent from state
    are new and pass through."""
    state = state_docs.select(
        F.col("url"),
        F.element_at("extras", "version").alias("_state_version"),
    )
    return (
        fetched.join(state, "url", "left")
        .where(
            F.col("_state_version").isNull()
            | (
                F.element_at("extras", "version")
                != F.col("_state_version")
            )
        )
        .drop("_state_version")
    )
