"""OP-01: paginated REST source, parallel and executor-side.

The reference fetches ⌈total/200⌉ pages **serially on the driver** (reference
dags/fetch_data_with_meta_from_api.py:18-45) — fine for 8.4k records, a
non-starter at scale. Here the page index is a DataFrame
(``spark.range(n_pages)``) and the HTTP fetch runs inside ``mapInPandas`` on
the executors, so ingestion parallelism equals cluster parallelism and each
page's records surface as ordinary rows under the explicit bronze schema.

The HTTP transport is injected (any ``page_number -> list[dict]`` callable),
which keeps the operator unit-testable without a network (SURVEY.md §5.2) and
keeps this module free of hard-coded endpoints. A ``requests``-based
transport for the real Open Brewery DB API is provided but constructed only
on demand (import-guarded; the library is not required for the engine).

Ingestion-completeness invariant (reference README.md:84): pages fetched must
equal ⌈total/per_page⌉ — enforced in ``to_dataframe`` by an observed count of
non-empty pages, read from the materialization's own job (no extra action),
turning the reference's "should always" prose into an assert.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inbev_data_engineering_case_spark.session import materialize

Transport = Callable[[int], list[dict]]


def open_brewery_db_transport(
    base_url: str = "https://api.openbrewerydb.org/v1/breweries",
    per_page: int = 200,
) -> Transport:
    """Real-API transport (driver/executor-side ``requests``); built lazily so
    tests never import requests. Mirrors the reference's request shape
    (per_page=200, raise_for_status — fetch_data_with_meta_from_api.py:37-45).
    """
    import requests  # deferred: only needed for live ingestion

    def fetch(page: int) -> list[dict]:
        resp = requests.get(
            base_url, params={"per_page": per_page, "page": page + 1}, timeout=30
        )
        resp.raise_for_status()
        return resp.json()

    return fetch


@dataclass
class PagedRestSource:
    """Parallel paginated source: ``n_pages`` fetches distributed over
    executors, rows typed under ``schema``. Missing JSON keys become nulls
    (the reference's positional ``dict.get`` extraction, ref :74-76).
    """

    transport: Transport
    schema: T.StructType
    n_pages: int
    per_page: int
    expected_total: int | None = None

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        transport = self.transport
        names = [f.name for f in self.schema.fields]
        out_schema = T.StructType(
            [T.StructField("__page", T.LongType(), True), *self.schema.fields]
        )

        def fetch_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for batch in batches:
                for page in batch["id"]:
                    records = transport(int(page))
                    # The page id marks only the page's first record, so a
                    # non-null count of ``__page`` counts non-empty pages.
                    marker = [None] * len(records)
                    if records:
                        marker[0] = int(page)
                    rows = {
                        "__page": pd.array(marker, dtype="Int64"),
                        **{
                            name: [rec.get(name) for rec in records]
                            for name in names
                        },
                    }
                    yield pd.DataFrame(rows, columns=["__page", *names])

        # Page ids come pre-split over the fetch tasks: no shuffle.
        pages = spark.range(
            0, self.n_pages, 1,
            min(self.n_pages, spark.sparkContext.defaultParallelism),
        )
        df = pages.mapInPandas(fetch_pages, schema=out_schema)

        if self.expected_total is not None:
            # README.md:84 invariant, asserted for real: every page must have
            # produced rows and the page count must cover expected_total.
            # Materialize FIRST (eager cut truncates lineage), so the
            # invariant check and every downstream action read the same
            # single fetch — an unmaterialized plan would re-invoke the
            # transport per action, and against a live mutable API the
            # validated data would not be the data returned. The page count
            # is an observed metric of that materialization's own job: each
            # page id is in exactly one input row and the fetch stage is the
            # result stage, so the count is exact and costs no extra job.
            # With a checkpoint dir set the fetch lands in a durable scratch
            # table; without one it stays on executor-local blocks.
            fetched = Observation("rest_pages")
            df = materialize(
                df.observe(fetched, F.count("__page").alias("pages")), eager=True
            )
            got_pages = fetched.get["pages"]
            want_pages = -(-self.expected_total // self.per_page)
            if got_pages != want_pages:
                raise RuntimeError(
                    f"ingestion incomplete: fetched {got_pages} pages, "
                    f"expected {want_pages} (total={self.expected_total}, "
                    f"per_page={self.per_page})"
                )
        return df.drop("__page")
