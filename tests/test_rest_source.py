"""S3 REST source: retry/backoff, page-shape tolerance, the three pull
termination conditions, checkpoint resume, distributed fan-out."""

from __future__ import annotations

import json

import pytest

from wistia_etl_pipeline_spark.sources.rest_source import (
    PullConfig,
    TransportError,
    fetch_media_pages_distributed,
    fetch_pages,
    http_get_json,
    page_shape,
)


def _paged_transport(total_rows: int, per_page: int, envelope: bool = True):
    """Deterministic fake API: rows are ints 0..total-1."""

    def transport(url: str):
        page = int(url.split("page=")[1].split("&")[0])
        start = (page - 1) * per_page
        rows = list(range(start, min(start + per_page, total_rows)))
        if envelope:
            body = {"data": rows, "total": total_rows, "per_page": per_page}
        else:
            body = rows
        return 200, json.dumps(body).encode()

    return transport


def test_page_shape_accepts_both_forms():
    assert page_shape([1, 2]) == ([1, 2], None, None)
    assert page_shape({"data": [1], "total": 9, "per_page": 1}) == ([1], 9, 1)
    assert page_shape({"events": [1, 2]}) == ([1, 2], None, None)
    assert page_shape({"nope": 1}) == ([], None, None)
    assert page_shape("garbage") == ([], None, None)


def test_retry_backoff_then_success():
    calls, naps = [], []
    def flaky(url):
        calls.append(url)
        if len(calls) < 3:
            return 503, b""
        return 200, b'{"data": []}'
    out = http_get_json(flaky, "u", sleep=naps.append)
    assert out == {"data": []}
    assert naps == [1.0, 2.0]  # bronze.py backoff 1,2,(4)


def test_retry_exhaustion_raises():
    naps = []
    with pytest.raises(TransportError):
        http_get_json(lambda u: (500, b""), "u", sleep=naps.append)
    assert naps == [1.0, 2.0, 4.0]


def test_4xx_fails_fast():
    naps = []
    with pytest.raises(TransportError):
        http_get_json(lambda u: (404, b""), "u", sleep=naps.append)
    assert naps == []


def _url_for(page: int) -> str:
    return f"http://api.test/events?page={page}&per_page=0"


# a lambda: cloudpickle serializes it by value, so executor workers don't
# need this test module importable
_distributed_url_for = lambda m, p: f"http://api.test/{m}?page={p}&per_page=0"  # noqa: E731


def test_pull_terminates_on_short_page():
    res = fetch_pages(_paged_transport(103, 50), _url_for,
                      config=PullConfig(per_page=50, max_pages=100))
    assert res.completed and res.next_page is None
    assert [p for p, _ in res.pages] == [1, 2, 3]
    assert sum(len(r) for _, r in res.pages) == 103


def test_pull_terminates_on_envelope_total():
    # exact multiple: page 2 * 50 >= 100 stops it without a 3rd request
    res = fetch_pages(_paged_transport(100, 50), _url_for,
                      config=PullConfig(per_page=50))
    assert res.completed and len(res.pages) == 2


def test_pull_terminates_on_page_cap_and_resumes():
    cfg = PullConfig(per_page=10, max_pages=3)
    res = fetch_pages(_paged_transport(1000, 10), _url_for, config=cfg)
    assert not res.completed and res.next_page == 4
    # resume from the checkpoint: continues where it stopped (ST2)
    res2 = fetch_pages(_paged_transport(1000, 10), _url_for,
                       start_page=res.next_page, config=cfg)
    assert [p for p, _ in res2.pages] == [4, 5, 6]


def test_pull_terminates_on_time_budget():
    clock_val = iter([0.0, 0.0, 100.0])  # budget blown before page 2
    res = fetch_pages(
        _paged_transport(1000, 10), _url_for,
        config=PullConfig(per_page=10, time_budget_seconds=45.0),
        clock=lambda: next(clock_val),
    )
    assert not res.completed and res.next_page == 2 and len(res.pages) == 1


def test_distributed_fanout(spark):
    from mock_transport import make_factory

    out = fetch_media_pages_distributed(
        spark,
        ["m1", "m2"],
        _distributed_url_for,
        make_factory(25, 10),
        config=PullConfig(per_page=10),
        parallelism=2,
    ).collect()
    by_media = {}
    for r in out:
        assert r.error is None and r.completed
        by_media.setdefault(r.media_id, []).append(json.loads(r.payload))
    assert set(by_media) == {"m1", "m2"}
    for pages in by_media.values():
        assert sum(len(p) for p in pages) == 25  # all rows arrived


def test_distributed_fanout_isolates_errors(spark):
    from mock_transport import make_factory

    out = fetch_media_pages_distributed(
        spark, ["good", "bad"],
        _distributed_url_for,
        make_factory(5, 10, fail_substring="/bad?"),
        config=PullConfig(per_page=10, retries=()), parallelism=2,
    ).collect()
    errs = {r.media_id: r.error for r in out}
    assert errs["good"] is None and "TransportError" in errs["bad"]


def test_parquet_fake_api_pages_match_table(sf_dir):
    """The parquet-backed transport (driver fan-out query's API) serves
    every row exactly once, in event_id order, with a correct envelope."""
    import json as _json

    from wistia_etl_pipeline_spark.sources.fake_api import (
        PER_PAGE,
        ParquetEventsTransport,
        url_for,
    )
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "event_type"])
    event_ids = t["event_id"].to_pylist()
    media_col = t["event_type"].to_pylist()
    media = media_col[0]
    expect = sorted(e for e, m in zip(event_ids, media_col) if m == media)
    transport = ParquetEventsTransport(sf_dir)
    got, page = [], 1
    while True:
        status, body = transport(url_for(media, page))
        assert status == 200
        payload = _json.loads(body)
        assert payload["per_page"] == PER_PAGE and payload["total"] == len(expect)
        rows = payload["data"]
        got.extend(r["event_id"] for r in rows)
        if len(rows) < PER_PAGE:
            break
        if page * PER_PAGE >= payload["total"]:
            break
        page += 1
    assert got == expect
