"""Deterministic fake REST transport — the test double for S3.

The reference can only be exercised against the live Wistia API; the
engine instead treats the transport as an injection point, and this
module provides the deterministic implementation the unit tests use.
Executor Python workers cannot import ``tests/``, so the module
registers itself to be pickled by value (see the end of the file).

URL contract: ``...?page=N&...`` — rows for page N of a fixed integer
sequence 0..total_rows-1.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass

from pyspark import cloudpickle

from wistia_etl_pipeline_spark.sources.rest_source import Transport, TransportError


@dataclass(frozen=True)
class PagedFakeTransport:
    """Serves ``total_rows`` integer rows in pages of ``per_page``.

    ``envelope=True`` answers in the ``{"data": …, "total": …,
    "per_page": …}`` shape, else a bare JSON array — the two payload
    shapes accepted by the reference's ``_page_shape``
    (bronze.py:135-146). ``fail_substring`` simulates a hard-down
    endpoint for matching URLs (per-media error-isolation tests).
    """

    total_rows: int
    per_page: int
    envelope: bool = True
    fail_substring: str | None = None

    def __call__(self, url: str) -> tuple[int, bytes]:
        if self.fail_substring and self.fail_substring in url:
            raise TransportError(f"simulated outage for {url}")
        page = int(url.split("page=")[1].split("&")[0])
        start = (page - 1) * self.per_page
        rows = list(range(start, min(start + self.per_page, self.total_rows)))
        if self.envelope:
            body: object = {
                "data": rows,
                "total": self.total_rows,
                "per_page": self.per_page,
            }
        else:
            body = rows
        return 200, json.dumps(body).encode()


def make_factory(
    total_rows: int,
    per_page: int,
    *,
    envelope: bool = True,
    fail_substring: str | None = None,
):
    """A picklable transport factory for
    :func:`~wistia_etl_pipeline_spark.sources.rest_source.fetch_media_pages_distributed`."""
    transport = PagedFakeTransport(total_rows, per_page, envelope, fail_substring)

    def factory() -> Transport:
        return transport

    return factory


# distributed fetch closures reach executors, which cannot import tests/
cloudpickle.register_pickle_by_value(sys.modules[__name__])
