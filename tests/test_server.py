"""End-to-end HTTP shim tests (SURVEY §3.1): request -> URL codec ->
registry resolution -> planner -> limit modes -> JSON V1 bytes, over a
real archive store and a real ephemeral-port HTTP server."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.management import ChannelConfig, ChannelRegistry
from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
from cassandra_pv_archiver_spark.server import ArchiveApp, serve
from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

HOUR = 3600 * NS


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("server")
    rows = [
        ("PV:A", (base + k) * NS, float(k), 0, 0)
        for base in (0, 7200)  # two hours of data with a gap hour between
        for k in range(0, 3600, 60)
    ] + [("PV:B", 500 * NS, 42.0, 2, 7)]
    raw = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    store = ArchiveStore(spark, str(tmp / "archive"))
    store.write_samples(raw, level=0)
    store.write_samples(decimate(raw, 3600), level=3600)

    reg = ChannelRegistry(spark, str(tmp / "channels"))
    for name in ("PV:A", "PV:B"):
        reg.add_channel(
            ChannelConfig(
                channel_name=name,
                channel_data_id=name.lower(),
                control_system_type="channel_access",
                enabled=True,
                decimation_levels={0: 0, 3600: 0},
            )
        )
    srv = serve(ArchiveApp(store, reg))
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path) as resp:
        return resp.status, json.loads(resp.read())


def _get_err(base: str, path: str) -> int:
    try:
        urllib.request.urlopen(base + path)
    except urllib.error.HTTPError as e:
        return e.code
    raise AssertionError("expected an HTTP error")


def test_archive_info(api):
    status, body = _get(api, "/archive-access/api/1.0/archive/")
    assert status == 200
    assert body == [
        {
            "key": 1,
            "name": "Archive",
            "description": "PySpark archive store",
            "channelCount": 2,
        }
    ]


def test_channel_listing_and_glob(api):
    _, body = _get(api, "/archive-access/api/1.0/archive/1/channels/")
    assert body == ["PV:A", "PV:B"]
    # ':' percent-encodes as %3A under the C5 codec
    _, body = _get(
        api, "/archive-access/api/1.0/archive/1/channels-by-pattern/PV%3A%2A"
    )
    assert body == ["PV:A", "PV:B"]
    _, body = _get(
        api, "/archive-access/api/1.0/archive/1/channels-by-pattern/PV%3AB"
    )
    assert body == ["PV:B"]


def test_raw_samples_with_limit_modes(api):
    # query window inside hour 1: AT_OR_BEFORE pulls the last sample of
    # hour 0 in as the leading boundary row, AT_OR_AFTER the first sample
    # at/after end
    start, end = 3660 * NS, 3780 * NS
    _, body = _get(
        api,
        "/archive-access/api/1.0/archive/1/channels/PV%3AA/samples"
        f"?start={start}&end={end}",
    )
    ts = [s["time"] for s in body]
    # nothing in (3540, 7200): boundary probe 3540, then forward probe 7200
    assert ts == [3540 * NS, 7200 * NS]
    assert all(s["type"] == "double" for s in body)
    assert body[0]["value"] == [3540.0]
    assert body[0]["quality"] == "Original"


def test_decimated_samples_with_count(api):
    # count makes the perfect period 1h -> the 3600 level serves the range
    start, end = 0, 2 * HOUR
    _, body = _get(
        api,
        "/archive-access/api/1.0/archive/1/channels/PV%3AA/samples"
        f"?start={start}&end={end}&count=2",
    )
    assert [s["type"] for s in body] == ["minMaxDouble", "minMaxDouble"]
    assert [s["time"] for s in body] == [0, HOUR]
    assert body[0]["quality"] == "Interpolated"
    # hour 0 holds 0,60,...,3540: time-weighted mean of a linear ramp
    assert body[0]["minimum"] == 0.0
    assert body[0]["maximum"] == 3540.0


def test_golden_sample_bytes(api):
    """Byte-level golden for one raw sample — the serializer fields and
    layout `JsonV1SampleSerializerTest` pins (time/severity/status/
    quality/type/value)."""
    _, body = _get(
        api,
        "/archive-access/api/1.0/archive/1/channels/PV%3AB/samples"
        f"?start={400 * NS}&end={600 * NS}",
    )
    assert body == [
        {
            "time": 500 * NS,
            "severity": {"level": "MAJOR", "hasValue": True},
            "status": "STATE",
            "quality": "Original",
            "type": "double",
            "value": [42.0],
        }
    ]


def test_errors(api):
    base = "/archive-access/api/1.0/archive/1/channels/PV%3AA/samples"
    assert _get_err(api, base) == 400  # missing start/end
    assert _get_err(api, base + "?start=10&end=5") == 400
    assert _get_err(api, base + "?start=0&end=5&count=0") == 400
    assert (
        _get_err(
            api,
            "/archive-access/api/1.0/archive/1/channels/NOPE/samples"
            "?start=0&end=5",
        )
        == 404
    )
    assert _get_err(api, "/archive-access/api/1.0/archive/9/") == 404
    assert _get_err(api, "/somewhere/else") == 404


def test_app_direct_no_http(spark, api):
    """ArchiveApp is framework-free: the same dispatch works without a
    socket (any WSGI/ASGI host could bind it)."""
    # api fixture built the store; reuse through a fresh app is covered
    # by the HTTP tests — here just check route errors raise ApiError
    from cassandra_pv_archiver_spark.server import ApiError

    with pytest.raises(ApiError):
        ArchiveApp(None, None).handle("/nope", {})


def test_samples_stream_chunked_no_collect(api, monkeypatch):
    """The samples endpoint must stream (chunked transfer, one sample per
    chunk-write) with NO full-result collect(): driver memory stays
    bounded on raw queries over long ranges, the case the reference
    streams through the servlet (`Api10Controller.sendSamples:520-532`).
    collect() is poisoned for the whole request to prove the egress path
    never materializes the result."""
    import pyspark.sql

    def _no_collect(self):
        raise AssertionError("server egress must not collect() results")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _no_collect)
    start, end = 3660 * NS, 3780 * NS
    req = urllib.request.Request(
        api
        + "/archive-access/api/1.0/archive/1/channels/PV%3AA/samples"
        + f"?start={start}&end={end}"
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert resp.headers.get("Transfer-Encoding") == "chunked"
        assert resp.headers.get("Content-Length") is None
        body = json.loads(resp.read())
    assert [s["time"] for s in body] == [3540 * NS, 7200 * NS]


def test_samples_stream_bytes_match_dumps(api):
    """Streamed chunks must reassemble to byte-identical
    ``json.dumps(list_of_samples)`` output (", " separators, same field
    order) — the byte-golden contract extended to the chunked path."""
    start, end = 400 * NS, 600 * NS
    with urllib.request.urlopen(
        api
        + "/archive-access/api/1.0/archive/1/channels/PV%3AB/samples"
        + f"?start={start}&end={end}"
    ) as resp:
        raw = resp.read()
    assert raw == json.dumps(json.loads(raw)).encode("utf-8")
    assert json.loads(raw)[0]["value"] == [42.0]


def test_samples_empty_iterator_streams_empty_array():
    """An empty iterator body must still stream a valid JSON `[]` (a
    truly empty samples response is rare — boundary probes usually pull
    a row — so the egress contract is pinned against the handler
    directly with a stub app)."""
    from cassandra_pv_archiver_spark.server import serve

    class _EmptyApp:
        def handle(self, path, query):
            return iter(())

    srv = serve(_EmptyApp())
    try:
        port = srv.server_address[1]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/anything"
        ) as resp:
            assert resp.headers.get("Transfer-Encoding") == "chunked"
            assert json.loads(resp.read()) == []
    finally:
        srv.shutdown()


def test_malformed_percent_escape_is_400(api):
    """Round-11 review: a malformed percent escape raised a bare
    ValueError past the ApiError handler, dropping the connection with
    no response; it is the client's error — 400."""
    assert _get_err(
        api,
        "/archive-access/api/1.0/archive/1/channels/foo%zz/samples"
        "?start=0&end=1",
    ) == 400


def test_non_api_error_is_500_not_dropped_connection(api, monkeypatch):
    """Round-11 review: an internal failure (Spark error mid-plan) must
    produce an HTTP 500, never a dropped connection."""
    from cassandra_pv_archiver_spark import server as srv_mod

    def boom(self, channel, query):
        raise RuntimeError("simulated planner failure")

    monkeypatch.setattr(srv_mod.ArchiveApp, "samples", boom)
    assert _get_err(
        api,
        "/archive-access/api/1.0/archive/1/channels/PV%3AA/samples"
        "?start=0&end=1",
    ) == 500


def test_chunked_post_body_is_411(api):
    """Round-11 review: a chunked request body was treated as
    zero-length, leaving the chunk frames on the socket to desync the
    next keep-alive request — answer 411 and close."""
    import http.client
    from urllib.parse import urlparse

    u = urlparse(api)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=10)
    try:
        conn.putrequest("POST", "/admin/api/1.0/run-archive-configuration-commands")
        conn.putheader("Transfer-Encoding", "chunked")
        conn.putheader("Content-Type", "application/json")
        conn.endheaders()
        conn.send(b"5\r\n{\"a\":\r\n0\r\n\r\n")
        resp = conn.getresponse()
        assert resp.status == 411
        assert resp.getheader("Connection") == "close"
    finally:
        conn.close()


def test_samples_on_empty_store_returns_empty(spark, tmp_path):
    """Round-11 review: a registered channel on a store with no
    ingested data must answer an empty list, not crash the planner on
    an empty level set."""
    store = ArchiveStore(spark, str(tmp_path / "fresh_archive"))
    reg = ChannelRegistry(spark, str(tmp_path / "fresh_channels"))
    reg.add_channel(
        ChannelConfig(
            channel_name="PV:NEW",
            control_system_type="channel_access",
            enabled=True,
            decimation_levels={0: 0},
        )
    )
    app = ArchiveApp(store, reg)
    body = app.samples("PV:NEW", {"start": ["0"], "end": ["10"]})
    assert list(body) == []


def test_samples_honor_channel_configured_levels(spark, tmp_path):
    """Round-11 review: a decimation level dropped from a channel's
    config must stop being SERVED for that channel even while the store
    still holds rows for it (other channels may still use the level)."""
    rows = [
        ("PV:C", k * NS, float(k), 0, 0) for k in range(0, 7200, 60)
    ]
    raw = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    store = ArchiveStore(spark, str(tmp_path / "cfg_archive"))
    store.write_samples(raw, level=0)
    store.write_samples(decimate(raw, 3600), level=3600)
    reg = ChannelRegistry(spark, str(tmp_path / "cfg_channels"))
    reg.add_channel(
        ChannelConfig(
            channel_name="PV:C",
            control_system_type="channel_access",
            enabled=True,
            decimation_levels={0: 0},  # 3600 NOT configured
        )
    )
    app = ArchiveApp(store, reg)
    # a count-limited query would otherwise pick the 3600 level
    out = list(app.samples(
        "PV:C", {"start": ["0"], "end": [str(7200 * NS)], "count": ["3"]}
    ))
    assert out  # served from raw-derived plan only
    assert all(item["type"] != "minMaxDouble" for item in out), out


def test_samples_probe_only_usable_levels(
    spark, tmp_path, count_jobs, monkeypatch
):
    """A count query probes only the levels at or above the one it
    selects. Against probing every level, the raw level's probe jobs
    disappear and the response stays byte-identical."""
    from cassandra_pv_archiver_spark import server

    rows = [("PV:D", k * NS, float(k), 0, 0) for k in range(0, 7200, 60)]
    raw = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    store = ArchiveStore(spark, str(tmp_path / "probe_archive"))
    store.write_samples(raw, level=0)
    store.write_samples(decimate(raw, 3600), level=3600)
    reg = ChannelRegistry(spark, str(tmp_path / "probe_channels"))
    reg.add_channel(
        ChannelConfig(
            channel_name="PV:D",
            control_system_type="channel_access",
            enabled=True,
            decimation_levels={0: 0, 3600: 0},
        )
    )
    app = ArchiveApp(store, reg)
    probed = []
    probe = store.probe_stats

    def spy(level, *args, **kwargs):
        probed.append(level)
        return probe(level, *args, **kwargs)

    monkeypatch.setattr(store, "probe_stats", spy)
    query = {"start": ["0"], "end": [str(2 * HOUR)], "count": ["2"]}

    def body() -> str:
        return json.dumps(list(app.samples("PV:D", query)))

    got, jobs = count_jobs(body)
    assert probed == [3600]
    probed.clear()
    # every level passes the filter: the behaviour before it existed
    monkeypatch.setattr(server, "select_decimation_level", lambda *a: 0)
    want, jobs_all = count_jobs(body)
    assert probed == [0, 3600]
    assert got == want and json.loads(got)
    assert jobs < jobs_all
