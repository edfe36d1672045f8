"""Admin REST surface end-to-end (VERDICT r7 #7): HTTP add -> rename ->
export -> import -> remove against a live registry + archive store,
plus the read/status endpoints — the reference contract is
`web/admin/controller/ApiController.java:225-806` with the `wsapi`
JSON field names."""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.request

import pytest

from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.admin_api import SERVER_ID, AdminApp
from cassandra_pv_archiver_spark.management import (
    ChannelConfig,
    ChannelRegistry,
    import_xml,
)
from cassandra_pv_archiver_spark.server import ArchiveApp, serve
from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

NS = 1_000_000_000


@pytest.fixture()
def admin(spark, tmp_path):
    raw = spark.createDataFrame(
        [("PV:A", 60 * NS, 1.0, 0, 0)],
        "channel string, t long, v double, severity int, status int",
    )
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    store.write_samples(raw, level=0)
    reg = ChannelRegistry(spark, str(tmp_path / "channels"))
    reg.add_channel(ChannelConfig(channel_name="PV:A",
                                  decimation_levels={0: 0, 3600: 0}))
    srv = serve(ArchiveApp(store, reg), admin=AdminApp(reg, store=store))
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}", reg
    srv.shutdown()


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path) as resp:
        return resp.status, json.loads(resp.read())


def _basic(user: str, pw: str) -> str:
    return "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()


def _post(base: str, path: str, body: dict, auth=_basic("admin", "admin")):
    headers = {"Content-Type": "application/json"}
    if auth is not None:
        headers["Authorization"] = auth
    req = urllib.request.Request(
        base + path, data=json.dumps(body).encode("utf-8"),
        headers=headers, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _err(base: str, path: str) -> int:
    try:
        urllib.request.urlopen(base + path)
    except urllib.error.HTTPError as e:
        return e.code
    raise AssertionError("expected an HTTP error")


CMDS = "/admin/api/1.0/run-archive-configuration-commands"
BY_SERVER = f"/admin/api/1.0/channels/by-server/{SERVER_ID}"


class TestLifecycleOverHttp:
    """The verdict's done-criterion: add -> rename -> export -> remove,
    every step over the wire, mutations observable in the live store."""

    def test_add_rename_export_remove(self, admin):
        base, reg = admin

        # add (run-archive-configuration-commands batch)
        status, body = _post(base, CMDS, {"commands": [{
            "commandType": "add_channel",
            "channelName": "PV:NEW",
            "controlSystemType": "channel_access",
            "enabled": True,
            "decimationLevelToRetentionPeriod": {"0": 0, "300": 86400},
            "options": {"monitor": "true"},
            "serverId": SERVER_ID,
        }]})
        assert status == 200
        assert body["results"][0]["success"] is True
        assert reg.get_channel("PV:NEW").decimation_levels == {0: 0,
                                                               300: 86400}

        # rename keeps the channel_data_id (SampleBucketId permanence)
        data_id = reg.get_channel("PV:NEW").channel_data_id
        status, body = _post(base, CMDS, {"commands": [{
            "commandType": "rename_channel",
            "oldChannelName": "PV:NEW",
            "newChannelName": "PV:RENAMED",
        }]})
        assert status == 200 and body["results"][0]["success"]
        assert reg.get_channel("PV:NEW") is None
        assert reg.get_channel("PV:RENAMED").channel_data_id == data_id

        # export returns the registry as base64 XML that import_xml parses
        status, body = _get(base, BY_SERVER + "/export")
        assert status == 200
        xml = base64.b64decode(body["configurationFile"]).decode("utf-8")
        names = {c.channel_name for c in import_xml(xml)}
        assert names == {"PV:A", "PV:RENAMED"}

        # remove
        status, body = _post(base, CMDS, {"commands": [{
            "commandType": "remove_channel", "channelName": "PV:RENAMED",
        }]})
        assert status == 200 and body["results"][0]["success"]
        assert reg.get_channel("PV:RENAMED") is None

    def test_batch_partial_failure_is_500_with_results(self, admin):
        base, reg = admin
        status, body = _post(base, CMDS, {"commands": [
            {"commandType": "remove_channel", "channelName": "NOPE"},
            {"commandType": "add_channel", "channelName": "PV:C",
             "controlSystemType": "channel_access", "enabled": True},
        ]})
        # reference parity: failed command -> 500, but the batch ran and
        # the per-command results are all present
        assert status == 500
        assert [r["success"] for r in body["results"]] == [False, True]
        assert reg.get_channel("PV:C") is not None

    def test_duplicate_add_fails_in_band(self, admin):
        base, _reg = admin
        status, body = _post(base, CMDS, {"commands": [{
            "commandType": "add_channel", "channelName": "PV:A",
            "controlSystemType": "channel_access", "enabled": True,
        }]})
        assert status == 500
        assert body["results"][0]["success"] is False
        assert "exists" in body["results"][0]["errorMessage"]


class TestImport:
    def test_import_roundtrip_with_remove(self, admin):
        base, reg = admin
        xml = (
            '<?xml version="1.0"?><server-configuration>'
            '<channel name="PV:X" control-system-type="channel_access">'
            '<decimation-level decimation-period="0"/>'
            '<decimation-level decimation-period="60"'
            ' retention-period="3600"/>'
            '<control-system-option name="k" value="v"/></channel>'
            "</server-configuration>"
        )
        status, body = _post(base, BY_SERVER + "/import", {
            "configurationFile":
                base64.b64encode(xml.encode()).decode("ascii"),
            "addChannels": True, "updateChannels": True,
            "removeChannels": True, "simulate": False,
        })
        assert status == 200
        assert body["addOrUpdateSucceeded"] == ["PV:X"]
        assert body["removeSucceeded"] == ["PV:A"]  # not in the file
        assert reg.get_channel("PV:X").options == {"k": "v"}
        assert reg.get_channel("PV:A") is None

    def test_simulate_mutates_nothing(self, admin):
        base, reg = admin
        xml = ('<?xml version="1.0"?><server-configuration>'
               '<channel name="PV:SIM"/></server-configuration>')
        status, body = _post(base, BY_SERVER + "/import", {
            "configurationFile":
                base64.b64encode(xml.encode()).decode("ascii"),
            "removeChannels": True, "simulate": True,
        })
        assert status == 200
        assert body["addOrUpdateSucceeded"] == ["PV:SIM"]
        assert body["removeSucceeded"] == ["PV:A"]
        # nothing actually changed
        assert reg.get_channel("PV:SIM") is None
        assert reg.get_channel("PV:A") is not None

    def test_empty_file_is_400(self, admin):
        base, _reg = admin
        status, body = _post(base, BY_SERVER + "/import",
                             {"configurationFile": ""})
        assert status == 400


class TestImportBatch:
    """An import writes the registry once, all or nothing."""

    @staticmethod
    def _xml(names) -> str:
        body = "".join(f'<channel name="{n}"/>' for n in names)
        return base64.b64encode(
            f'<?xml version="1.0"?><server-configuration>{body}'
            "</server-configuration>".encode()
        ).decode("ascii")

    def _app(self, spark, tmp_path, monkeypatch):
        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        reg.add_channel(ChannelConfig(channel_name="PV:OLD"))
        flushes = []
        flush = reg._flush

        def counted():
            flushes.append(1)
            flush()

        monkeypatch.setattr(reg, "_flush", counted)
        return AdminApp(reg), reg, flushes

    def test_import_of_2000_channels_flushes_once(
        self, spark, tmp_path, monkeypatch
    ):
        app, reg, flushes = self._app(spark, tmp_path, monkeypatch)
        old_id = reg.get_channel("PV:OLD").channel_data_id
        names = [f"PV:{i:04d}" for i in range(2000)] + ["PV:OLD"]
        out = app.import_config(SERVER_ID, {
            "configurationFile": self._xml(names),
        })
        assert out["addOrUpdateSucceeded"] == sorted(names)
        assert out["addOrUpdateFailed"] == {}
        assert len(flushes) == 1
        again = ChannelRegistry(spark, str(tmp_path / "chan"))
        assert len(again.list_channels()) == 2001
        # an update keeps the permanent data id
        assert again.get_channel("PV:OLD").channel_data_id == old_id

    def test_flush_error_fails_every_channel_and_changes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        app, reg, _ = self._app(spark, tmp_path, monkeypatch)
        before = reg.list_channels()

        def boom():
            raise OSError("disk full")

        monkeypatch.setattr(reg, "_flush", boom)
        names = ["PV:A1", "PV:A2", "PV:OLD"]
        out = app.import_config(SERVER_ID, {
            "configurationFile": self._xml(names),
        })
        assert out["addOrUpdateSucceeded"] == []
        assert out["addOrUpdateFailed"] == dict.fromkeys(names, "disk full")
        assert reg.list_channels() == before
        again = ChannelRegistry(spark, str(tmp_path / "chan"))
        assert again.list_channels() == before


class TestReadsAndStatus:
    def test_channels_all_and_details(self, admin):
        base, _reg = admin
        status, body = _get(base, "/admin/api/1.0/channels/all")
        assert status == 200
        assert [c["channelName"] for c in body["channels"]] == ["PV:A"]
        assert body["channels"][0]["serverId"] == SERVER_ID
        assert body["channels"][0]["decimationLevels"] == [0, 3600]

        status, det = _get(base, "/admin/api/1.0/channels/all/by-name/PV%3AA")
        assert status == 200
        assert det["channelName"] == "PV:A"
        assert det["decimationLevelToRetentionPeriod"] == {"0": 0, "3600": 0}
        assert det["enabled"] is True

    def test_unknown_channel_and_server_404(self, admin):
        base, _reg = admin
        assert _err(base, "/admin/api/1.0/channels/all/by-name/NOPE") == 404
        other = "00000000-0000-0000-0000-0000000000ff"
        assert _err(base, f"/admin/api/1.0/channels/by-server/{other}") == 404
        # malformed UUID is a 404, not a 400 (reference contract)
        assert _err(base, "/admin/api/1.0/channels/by-server/zzz/export") == 404

    def test_status_endpoints(self, admin):
        base, _reg = admin
        status, body = _get(base, "/admin/api/1.0/server-status/this-server")
        assert status == 200
        assert body["channelsTotal"] == 1 and body["serverOnline"] is True
        status, body = _get(base, "/admin/api/1.0/cluster-status")
        assert status == 200
        assert [s["serverId"] for s in body["servers"]] == [SERVER_ID]

    def test_post_to_unknown_route_404(self, admin):
        base, _reg = admin
        status, _ = _post(base, "/admin/api/1.0/nope", {})
        assert status == 404


CMD_PATH = "/admin/api/1.0/run-archive-configuration-commands"


class TestBatchNeverAborts:
    """Per-command failures must ride inside the batch response — an
    escaping exception would leave earlier commands applied and later
    ones never run (`runArchiveConfigurationCommands:762-798`)."""

    def test_malformed_server_uuid_reports_in_band(self, admin):
        base, reg = admin
        status, body = _post(base, CMD_PATH, {"commands": [
            {"commandType": "add_channel", "channelName": "PV:B1"},
            {"commandType": "move_channel", "channelName": "PV:B1",
             "newServerId": "not-a-uuid"},
            {"commandType": "add_channel", "channelName": "PV:B2"},
        ]})
        # batch completed: first and third applied, second failed in-band
        assert status == 500  # any failed command flips the status
        oks = [r["success"] for r in body["results"]]
        assert oks == [True, False, True]
        assert "not a server id" in body["results"][1]["errorMessage"]
        assert reg.get_channel("PV:B1") is not None
        assert reg.get_channel("PV:B2") is not None

    def test_non_dict_command_reports_in_band(self, admin):
        base, _reg = admin
        status, body = _post(base, CMD_PATH, {"commands": [
            "add_channel",
            {"commandType": "add_channel", "channelName": "PV:B3"},
        ]})
        assert status == 500
        assert [r["success"] for r in body["results"]] == [False, True]

    def test_missing_server_id_on_move_reports_in_band(self, admin):
        base, _reg = admin
        status, body = _post(base, CMD_PATH, {"commands": [
            {"commandType": "move_channel", "channelName": "PV:A"},
        ]})
        assert status == 500
        assert body["results"][0]["success"] is False


class TestKeepAliveBodyDrain:
    def test_post_404_does_not_desync_keepalive(self, admin):
        """A POST body must be drained even when routing 404s, or the
        unread bytes corrupt the next request on a keep-alive
        connection."""
        import http.client

        base, _reg = admin
        host = base.split("//", 1)[1]
        conn = http.client.HTTPConnection(host, timeout=10)
        payload = json.dumps({"filler": "x" * 4096})
        conn.request("POST", "/nope", body=payload,
                     headers={"Content-Type": "application/json"})
        r1 = conn.getresponse()
        assert r1.status == 404
        r1.read()
        # same connection: a valid follow-up must parse cleanly
        conn.request("GET", "/admin/api/1.0/channels/all")
        r2 = conn.getresponse()
        assert r2.status == 200
        assert json.loads(r2.read())
        conn.close()


class TestRenameCascadesToStore:
    def test_rename_moves_archived_history(self, admin, spark):
        """The layout is name-keyed: a registry-only rename would orphan
        every archived sample under the old name. With a store wired,
        the rename command rewrites the history too."""
        base, reg = admin
        status, body = _post(base, CMD_PATH, {"commands": [
            {"commandType": "rename_channel", "oldChannelName": "PV:A",
             "newChannelName": "PV:RENAMED"},
        ]})
        assert status == 200, body
        assert body["results"][0]["success"] is True
        # archived sample now lives under the new name (read API)
        st, data = _get(
            base,
            "/archive-access/api/1.0/archive/1/channels/PV%3ARENAMED/samples"
            "?start=0&end=" + str(2 * 60 * NS),
        )
        assert st == 200
        assert len(data) == 1

    def test_rename_store_failure_rolls_registry_back(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r8 #2: if the store-side rewrite fails AFTER the
        registry flushed, the cascade must roll the registry rename back
        before reporting the per-command error — all-or-nothing."""
        store = ArchiveStore(spark, str(tmp_path / "arch2"))
        raw = spark.createDataFrame(
            [("PV:A", 60 * NS, 1.0, 0, 0)],
            "channel string, t long, v double, severity int, status int",
        )
        store.write_samples(raw, level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "chan2"))
        reg.add_channel(ChannelConfig(channel_name="PV:A",
                                      decimation_levels={0: 0}))
        app = AdminApp(reg, store=store)

        def boom(old, new):
            raise RuntimeError("mid-rewrite I/O failure")

        monkeypatch.setattr(store, "rename_channel", boom)
        out = app.run_commands({"commands": [
            {"commandType": "rename_channel", "oldChannelName": "PV:A",
             "newChannelName": "PV:Z"},
        ]})
        res = out["results"][0]
        assert res["success"] is False
        # registry rolled back: old name present, new name absent
        assert reg.get_channel("PV:A") is not None
        assert reg.get_channel("PV:Z") is None

    def test_rename_collision_preflight_blocks_registry(
        self, spark, tmp_path
    ):
        """Store-side collision (archived rows already under the new
        name, registry unaware of it) is pre-flighted: the command fails
        and the registry keeps the OLD name."""
        store = ArchiveStore(spark, str(tmp_path / "arch3"))
        schema = "channel string, t long, v double, severity int, status int"
        store.write_samples(
            spark.createDataFrame(
                [("PV:A", 60 * NS, 1.0, 0, 0),
                 ("PV:B", 61 * NS, 2.0, 0, 0)], schema
            ),
            level=0,
        )
        reg = ChannelRegistry(spark, str(tmp_path / "chan3"))
        reg.add_channel(ChannelConfig(channel_name="PV:A",
                                      decimation_levels={0: 0}))
        app = AdminApp(reg, store=store)
        out = app.run_commands({"commands": [
            {"commandType": "rename_channel", "oldChannelName": "PV:A",
             "newChannelName": "PV:B"},
        ]})
        res = out["results"][0]
        assert res["success"] is False
        assert "exists" in res["errorMessage"]
        assert reg.get_channel("PV:A") is not None
        assert reg.get_channel("PV:B") is None

    def test_remove_deletes_archived_history(self, admin, spark):
        base, reg = admin
        status, body = _post(base, CMD_PATH, {"commands": [
            {"commandType": "remove_channel", "channelName": "PV:A"},
        ]})
        assert status == 200, body
        st, data = _get(base, "/archive-access/api/1.0/archive/1/channels")
        assert "PV:A" not in data


class TestImportValidation:
    def test_channel_without_name_rejected_at_import(self):
        import pytest as _pytest

        xml = ('<server-configuration xmlns="x">'
               '<channel control-system-type="channel_access"/>'
               "</server-configuration>")
        with _pytest.raises(ValueError, match="name attribute"):
            import_xml(xml)


class TestUrlCodecNonAscii:
    def test_literal_non_ascii_passthrough(self):
        from cassandra_pv_archiver_spark.management import (
            url_decode,
            url_encode,
        )

        assert url_decode("café") == "café"
        assert url_decode("PV€:1") == "PV€:1"
        for s in ["café", "PV€:1", "temp:°C"]:
            assert url_decode(url_encode(s)) == s

    def test_invalid_utf8_escape_is_a_value_error(self):
        from cassandra_pv_archiver_spark.management import url_decode
        import pytest as _pytest

        with _pytest.raises(ValueError, match="UTF-8"):
            url_decode("%FF%FE")


class TestRegistryCrashRecovery:
    def test_truncated_first_flush_does_not_brick(self, spark, tmp_path):
        """A crash during the FIRST _flush leaves a truncated tmp dir and
        no live dir; promotion must verify completeness, not just
        non-emptiness, or every subsequent startup raises."""
        import os

        path = str(tmp_path / "reg")
        os.makedirs(path + ".tmp")
        with open(path + ".tmp/part-00000.parquet", "wb") as fh:
            fh.write(b"PAR1\x00\x00garbage")  # truncated parquet
        reg = ChannelRegistry(spark, path)  # must not raise
        assert reg.list_channels() == []
        reg.add_channel(ChannelConfig(channel_name="PV:N"))
        assert ChannelRegistry(spark, path).get_channel("PV:N") is not None


class TestAdminAuth:
    """VERDICT r8 #4: HTTP Basic + ROLE_ADMIN on the mutating routes
    (`ApiController.java:532,764` @Secured("ROLE_ADMIN"), users per
    `ArchiveUserDetailsManager.java`), reads stay open."""

    ADD = {"commands": [{
        "commandType": "add_channel", "channelName": "PV:AUTH",
        "decimationLevels": [0]}]}

    def test_no_credentials_is_401_with_challenge(self, admin):
        base, reg = admin
        req = urllib.request.Request(
            base + CMD_PATH, data=json.dumps(self.ADD).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
            assert e.headers.get("WWW-Authenticate", "").startswith("Basic")
        assert reg.get_channel("PV:AUTH") is None  # nothing applied

    def test_bad_password_is_401(self, admin):
        base, reg = admin
        st, _ = _post(base, CMD_PATH, self.ADD, auth=_basic("admin", "nope"))
        assert st == 401
        assert reg.get_channel("PV:AUTH") is None

    def test_wrong_role_is_403(self, spark, tmp_path):
        from cassandra_pv_archiver_spark.users import UserRegistry

        users = UserRegistry(str(tmp_path / "users"))
        users.create_user("viewer", "secret", roles=[])
        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        srv = serve(ArchiveApp(None, reg),
                    admin=AdminApp(reg, users=users))
        try:
            base = f"http://127.0.0.1:{srv.server_address[1]}"
            st, _ = _post(base, CMD_PATH, self.ADD,
                          auth=_basic("viewer", "secret"))
            assert st == 403
            assert reg.get_channel("PV:AUTH") is None
        finally:
            srv.shutdown()

    def test_admin_role_succeeds_on_add_rename_remove(self, spark, tmp_path):
        from cassandra_pv_archiver_spark.users import ROLE_ADMIN, UserRegistry

        users = UserRegistry(str(tmp_path / "users"))
        users.create_user("op", "pw123", roles=[ROLE_ADMIN])
        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        srv = serve(ArchiveApp(None, reg), admin=AdminApp(reg, users=users))
        try:
            base = f"http://127.0.0.1:{srv.server_address[1]}"
            auth = _basic("op", "pw123")
            st, body = _post(base, CMD_PATH, self.ADD, auth=auth)
            assert st == 200 and body["results"][0]["success"]
            st, body = _post(base, CMD_PATH, {"commands": [
                {"commandType": "rename_channel",
                 "oldChannelName": "PV:AUTH", "newChannelName": "PV:R"}
            ]}, auth=auth)
            assert st == 200 and body["results"][0]["success"]
            st, body = _post(base, CMD_PATH, {"commands": [
                {"commandType": "remove_channel", "channelName": "PV:R"}
            ]}, auth=auth)
            assert st == 200 and body["results"][0]["success"]
            assert reg.get_channel("PV:R") is None
        finally:
            srv.shutdown()

    def test_reads_stay_open(self, admin):
        base, _ = admin
        st, data = _get(base, "/admin/api/1.0/channels/all")
        assert st == 200
        st, data = _get(base, "/admin/api/1.0/server-status/this-server")
        assert st == 200

    def test_default_admin_password_change_and_old_rejected(self, tmp_path):
        from cassandra_pv_archiver_spark.users import ROLE_ADMIN, UserRegistry

        users = UserRegistry(str(tmp_path / "users"))
        # implicit default admin works...
        assert users.authenticate("admin", "admin") == frozenset({ROLE_ADMIN})
        # ...until the password changes (materializing the row)
        users.change_password("admin", "admin", "s3cret")
        assert users.authenticate("admin", "admin") is None
        assert users.authenticate("admin", "s3cret") == frozenset(
            {ROLE_ADMIN})
        # persisted: a fresh registry over the same path sees the change
        again = UserRegistry(str(tmp_path / "users"))
        assert again.authenticate("admin", "admin") is None
        assert again.authenticate("admin", "s3cret") is not None

    def test_admin_user_cannot_be_created_or_deleted(self, tmp_path):
        from cassandra_pv_archiver_spark.users import UserRegistry

        users = UserRegistry(str(tmp_path / "users"))
        import pytest as _pytest
        with _pytest.raises(ValueError):
            users.create_user("admin", "x", roles=[])
        with _pytest.raises(ValueError):
            users.delete_user("admin")


class TestCascadeAtomicityReview:
    """Round-9 review findings: remove-channel rollback, self-rename
    no-op, store-side rename compensation, case-insensitive scheme."""

    def _app(self, spark, tmp_path):
        store = ArchiveStore(spark, str(tmp_path / "arch"))
        store.write_samples(spark.createDataFrame(
            [("PV:A", 60 * NS, 1.0, 0, 0)],
            "channel string, t long, v double, severity int, status int",
        ), level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        reg.add_channel(ChannelConfig(channel_name="PV:A",
                                      decimation_levels={0: 0}))
        return AdminApp(reg, store=store), reg, store

    def test_remove_store_failure_restores_registry(
        self, spark, tmp_path, monkeypatch
    ):
        app, reg, store = self._app(spark, tmp_path)

        def boom(name):
            raise RuntimeError("mid-delete I/O failure")

        monkeypatch.setattr(store, "delete_channel", boom)
        out = app.run_commands({"commands": [
            {"commandType": "remove_channel", "channelName": "PV:A"},
        ]})
        assert out["results"][0]["success"] is False
        # registry restored: the command is retriable and the history
        # is not orphaned behind a registry that forgot the channel
        assert reg.get_channel("PV:A") is not None
        # a later successful remove still works end-to-end
        out = app.run_commands({"commands": [
            {"commandType": "remove_channel", "channelName": "PV:A"},
        ]})
        # monkeypatch still active: still fails, registry still intact
        assert reg.get_channel("PV:A") is not None

    def test_self_rename_is_noop_success(self, spark, tmp_path):
        app, reg, store = self._app(spark, tmp_path)
        out = app.run_commands({"commands": [
            {"commandType": "rename_channel", "oldChannelName": "PV:A",
             "newChannelName": "PV:A"},
        ]})
        assert out["results"][0]["success"] is True
        assert reg.get_channel("PV:A") is not None
        assert store.read_samples(0).count() == 1

    def test_self_rename_missing_channel_fails(self, spark, tmp_path):
        app, reg, _ = self._app(spark, tmp_path)
        out = app.run_commands({"commands": [
            {"commandType": "rename_channel", "oldChannelName": "NOPE",
             "newChannelName": "NOPE"},
        ]})
        assert out["results"][0]["success"] is False

    def test_lowercase_basic_scheme_accepted(self, admin):
        base, reg = admin
        auth = "basic " + base64.b64encode(b"admin:admin").decode()
        st, body = _post(base, CMD_PATH, {"commands": [
            {"commandType": "add_channel", "channelName": "PV:LC",
             "decimationLevels": [0]}]}, auth=auth)
        assert st == 200 and body["results"][0]["success"]


class TestReviewPassTwo:
    """Round-9 second review pass: non-dict bodies, malformed
    Content-Length, import remove cascade, concurrent mutations."""

    def test_non_dict_json_body_is_400(self, admin):
        base, _ = admin
        req = urllib.request.Request(
            base + CMD_PATH, data=b"[]",
            headers={"Content-Type": "application/json",
                     "Authorization": _basic("admin", "admin")},
            method="POST",
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "JSON object" in json.loads(e.read())["error"]

    def test_malformed_content_length_is_400_not_reset(self, admin):
        import http.client

        base, _ = admin
        host = base.split("//", 1)[1]
        conn = http.client.HTTPConnection(host, timeout=10)
        conn.putrequest("POST", CMD_PATH, skip_accept_encoding=True)
        conn.putheader("Content-Length", "abc")
        conn.putheader("Authorization", _basic("admin", "admin"))
        conn.endheaders()
        r = conn.getresponse()
        assert r.status == 400
        conn.close()

    def test_import_remove_cascades_to_store(self, spark, tmp_path):
        # PV:A exists with archived history; an import that doesn't list
        # it (removeChannels=true) must delete the history too — a
        # registry-only remove would orphan it, and a later re-add would
        # resurrect the stale pre-removal samples
        store = ArchiveStore(spark, str(tmp_path / "arch"))
        store.write_samples(spark.createDataFrame(
            [("PV:A", 60 * NS, 1.0, 0, 0)],
            "channel string, t long, v double, severity int, status int",
        ), level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        reg.add_channel(ChannelConfig(channel_name="PV:A",
                                      decimation_levels={0: 0}))
        app = AdminApp(reg, store=store)
        xml = ('<?xml version="1.0"?><server-configuration>'
               '<channel name="PV:KEEP"/></server-configuration>')
        out = app.import_config(SERVER_ID, {
            "configurationFile":
                base64.b64encode(xml.encode()).decode("ascii"),
            "removeChannels": True,
        })
        assert out["removeSucceeded"] == ["PV:A"]
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() == 0

    def test_concurrent_adds_all_survive_restart(self, spark, tmp_path):
        import threading as th

        reg = ChannelRegistry(spark, str(tmp_path / "chan"))
        errs = []

        def add(i):
            try:
                reg.add_channel(ChannelConfig(
                    channel_name=f"PV:C{i}", decimation_levels={0: 0}))
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [th.Thread(target=add, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        # a fresh registry over the same path sees EVERY add
        again = ChannelRegistry(spark, str(tmp_path / "chan"))
        assert len(again.list_channels()) == 16


def test_oversized_body_rejected_413_without_drain(admin):
    """ADVICE r9: the keep-alive body drain ran before auth with no size
    cap — an unauthenticated client could make the handler buffer an
    arbitrarily large body before any 401. Oversized Content-Length now
    answers 413 WITHOUT draining (connection closed instead)."""
    import http.client

    base, _ = admin
    host = base.split("//", 1)[1]
    conn = http.client.HTTPConnection(host, timeout=10)
    try:
        conn.putrequest(
            "POST", "/admin/api/1.0/run-archive-configuration-commands")
        conn.putheader("Content-Length", str(10**9))  # claim 1 GB
        conn.putheader("Content-Type", "application/json")
        conn.endheaders()
        # send NOTHING of the body: the 413 must arrive anyway — a
        # draining server would block here waiting for a gigabyte
        resp = conn.getresponse()
        assert resp.status == 413
        assert resp.will_close  # undrained connection cannot keep alive
        assert b"too large" in resp.read()
    finally:
        conn.close()


class TestRenameIntentMarker:
    """ADVICE r9: a process crash between the registry flush and the
    store rewrite leaves the registry renamed while history sits under
    the old name. The intent marker written before the flush is consumed
    by a startup repair."""

    def _fixture(self, spark, tmp_path, n_rows=5):
        raw = spark.createDataFrame(
            [("PV:A", (i + 1) * 60 * NS, float(i), 0, 0)
             for i in range(n_rows)],
            "channel string, t long, v double, severity int, status int",
        )
        store = ArchiveStore(spark, str(tmp_path / "archive"))
        store.write_samples(raw, level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "channels"))
        reg.add_channel(ChannelConfig(
            channel_name="PV:A", decimation_levels={0: 0}))
        return store, reg

    def test_crash_after_registry_flush_re_drives_store(
        self, spark, tmp_path
    ):
        import os

        store, reg = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        # emulate the crash window: marker written, registry flushed,
        # process died before the store rewrite ran
        app._write_rename_intent("PV:A", "PV:B")
        reg.rename_channel("PV:A", "PV:B")

        # "restart": a fresh AdminApp over the same stores repairs
        app2 = AdminApp(reg, store=store)
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:B").count() == 5
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() == 0
        assert not os.path.exists(app2._rename_intent_path())
        # hwm followed too
        assert list(store.channel_hwm(0)) == ["PV:B"]

    def test_crash_before_registry_flush_rolls_store_back(
        self, spark, tmp_path
    ):
        import os

        store, reg = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        # crash window variant: marker written, registry NOT yet
        # flushed, but the store rewrite already ran half/fully (the
        # marker cannot tell — repair handles both)
        app._write_rename_intent("PV:A", "PV:B")
        store.rename_channel("PV:A", "PV:B")

        app2 = AdminApp(reg, store=store)
        # registry still maps PV:A -> history rolled back under PV:A
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() == 5
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:B").count() == 0
        assert not os.path.exists(app2._rename_intent_path())

    def test_marker_for_removed_channel_is_cleared(self, spark, tmp_path):
        import os

        store, reg = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        app._write_rename_intent("PV:GONE", "PV:GONE2")
        reg.remove_channel("PV:A")
        app2 = AdminApp(reg, store=store)
        assert not os.path.exists(app2._rename_intent_path())

    def test_successful_rename_leaves_no_marker(self, spark, tmp_path):
        import os

        store, reg = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        out = app.handle_post(
            "/admin/api/1.0/run-archive-configuration-commands",
            {"commands": [{
                "commandType": "rename_channel",
                "oldChannelName": "PV:A", "newChannelName": "PV:B"}]},
        )
        assert out["results"][0]["success"]
        assert not os.path.exists(app._rename_intent_path())
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:B").count() == 5


class TestRenameCascadeMarkerLifecycle:
    """Round-10 review: the intent marker must leave ZERO trace on every
    refusal/rollback path — a stranded marker makes the next startup's
    recovery destructively merge two unrelated channels."""

    def _fixture(self, spark, tmp_path):
        raw = spark.createDataFrame(
            [("PV:A", (i + 1) * 60 * NS, float(i), 0, 0) for i in range(5)],
            "channel string, t long, v double, severity int, status int",
        )
        store = ArchiveStore(spark, str(tmp_path / "archive"))
        store.write_samples(raw, level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "channels"))
        reg.add_channel(ChannelConfig(
            channel_name="PV:A", decimation_levels={0: 0}))
        return store, reg

    def test_registry_refusal_leaves_no_marker(self, spark, tmp_path):
        import os

        store, reg = self._fixture(spark, tmp_path)
        # target registered but with NO archived data: the store's
        # data-only probe passes, the REGISTRY side must refuse — and
        # must leave no marker (a stranded one would merge A into B at
        # the next startup)
        reg.add_channel(ChannelConfig(
            channel_name="PV:B", decimation_levels={0: 0}))
        app = AdminApp(reg, store=store)
        out = app.handle_post(
            "/admin/api/1.0/run-archive-configuration-commands",
            {"commands": [{
                "commandType": "rename_channel",
                "oldChannelName": "PV:A", "newChannelName": "PV:B"}]},
        )
        assert not out["results"][0]["success"]
        assert not os.path.exists(app._rename_intent_path())
        # the restart is a no-op: A's history stays under A
        AdminApp(reg, store=store)
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() == 5
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:B").count() == 0

    def test_store_failure_rolls_back_and_clears_marker(
        self, spark, tmp_path, monkeypatch
    ):
        import os

        store, reg = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)

        def boom(old, new, preflighted=False):
            raise RuntimeError("simulated store failure")

        monkeypatch.setattr(store, "rename_channel", boom)
        out = app.handle_post(
            "/admin/api/1.0/run-archive-configuration-commands",
            {"commands": [{
                "commandType": "rename_channel",
                "oldChannelName": "PV:A", "newChannelName": "PV:B"}]},
        )
        assert not out["results"][0]["success"]
        # registry rolled back, repair sweep found nothing, marker gone
        assert reg.get_channel("PV:A") is not None
        assert reg.get_channel("PV:B") is None
        assert not os.path.exists(app._rename_intent_path())

    def test_both_names_registered_keeps_marker_untouched(
        self, spark, tmp_path, capsys
    ):
        import os

        store, reg = self._fixture(spark, tmp_path)
        reg.add_channel(ChannelConfig(
            channel_name="PV:B", decimation_levels={0: 0}))
        app = AdminApp(reg, store=store)
        # stranded marker + both names registered: recovery must touch
        # NOTHING (rows under B cannot be told apart from B's own data)
        app._write_rename_intent("PV:A", "PV:B")
        AdminApp(reg, store=store)
        assert os.path.exists(app._rename_intent_path())
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() == 5


class TestRound11Review:
    """Round-11 review: remove-intent crash recovery, the update-channel
    level-drop cascade, and mutation serialization."""

    def _fixture(self, spark, tmp_path, levels={0: 0}):
        rows = [("PV:A", k * NS, float(k), 0, 0)
                for k in range(0, 7200, 60)]
        raw = spark.createDataFrame(
            rows,
            "channel string, t long, v double, severity int, status int",
        )
        store = ArchiveStore(spark, str(tmp_path / "archive"))
        store.write_samples(raw, level=0)
        reg = ChannelRegistry(spark, str(tmp_path / "channels"))
        reg.add_channel(ChannelConfig(
            channel_name="PV:A", decimation_levels=dict(levels)))
        return store, reg, raw

    def test_remove_crash_after_registry_flush_re_drives_delete(
        self, spark, tmp_path
    ):
        """A crash between the registry remove and the store delete left
        the history orphaned invisibly — a later re-add of the name
        resurrected the dead channel's data. The remove-intent marker
        re-drives the delete at startup."""
        import os

        store, reg, _ = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        # crash window: intent written, registry flushed, process died
        app._write_remove_intent("PV:A")
        reg.remove_channel("PV:A")
        assert store.read_samples(0).count() > 0  # orphaned history

        app2 = AdminApp(reg, store=store)  # restart repairs
        assert store.read_samples(0).count() == 0
        assert not os.path.exists(app2._rename_intent_path())
        assert store.channel_hwm(0) == {}

    def test_remove_crash_before_registry_flush_is_noop(
        self, spark, tmp_path
    ):
        """Intent written but the registry flush never completed: the
        store delete strictly follows the flush, so nothing happened —
        startup just clears the marker."""
        import os

        store, reg, _ = self._fixture(spark, tmp_path)
        app = AdminApp(reg, store=store)
        app._write_remove_intent("PV:A")

        app2 = AdminApp(reg, store=store)
        assert store.read_samples(0).count() > 0  # data intact
        assert reg.get_channel("PV:A") is not None
        assert not os.path.exists(app2._rename_intent_path())

    def test_update_channel_drops_level_from_store(self, spark, tmp_path):
        """The reference's configuration update deletes a removed
        level's sample buckets; dropping a level from one channel's
        config must remove THAT channel's rows and metadata on that
        level only."""
        from cassandra_pv_archiver_spark.operators.decimate import decimate

        store, reg, raw = self._fixture(spark, tmp_path,
                                        levels={0: 0, 3600: 0})
        other = raw.withColumn("channel", F.lit("PV:OTHER"))
        store.write_samples(decimate(raw, 3600), level=3600)
        store.write_samples(decimate(other, 3600), level=3600)
        reg.add_channel(ChannelConfig(
            channel_name="PV:OTHER", decimation_levels={0: 0, 3600: 0}))
        app = AdminApp(reg, store=store)

        out = app.run_commands({"commands": [{
            "commandType": "update_channel",
            "channelName": "PV:A",
            "decimationLevelToRetentionPeriod": {"0": 0},
        }]})
        assert out["results"][0]["success"], out
        lvl = store.read_samples(3600)
        assert lvl.filter(F.col("channel") == "PV:A").count() == 0
        assert lvl.filter(F.col("channel") == "PV:OTHER").count() > 0
        assert store.read_samples(0).filter(
            F.col("channel") == "PV:A").count() > 0  # raw untouched
        assert set(store.channel_hwm(3600)) == {"PV:OTHER"}

    def test_update_level_drop_store_failure_rolls_back_config(
        self, spark, tmp_path, monkeypatch
    ):
        from cassandra_pv_archiver_spark.operators.decimate import decimate

        store, reg, raw = self._fixture(spark, tmp_path,
                                        levels={0: 0, 3600: 0})
        store.write_samples(decimate(raw, 3600), level=3600)
        app = AdminApp(reg, store=store)

        def boom(name, lvl):
            raise RuntimeError("mid-rewrite failure")

        monkeypatch.setattr(store, "delete_channel_level", boom)
        out = app.run_commands({"commands": [{
            "commandType": "update_channel",
            "channelName": "PV:A",
            "decimationLevelToRetentionPeriod": {"0": 0},
        }]})
        assert not out["results"][0]["success"]
        # config rolled back: the level is still configured AND served
        assert 3600 in reg.get_channel("PV:A").decimation_levels

    def test_delete_channel_level_refuses_raw(self, spark, tmp_path):
        import pytest

        store, _, _ = self._fixture(spark, tmp_path)
        with pytest.raises(ValueError, match="raw"):
            store.delete_channel_level("PV:A", 0)
