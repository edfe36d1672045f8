"""Live EPICS Channel Access protocol client + in-process server sim.

The reference's actual front door is a CA *client*: it connects to an
IOC over TCP, creates channels, subscribes, and archives every monitor
event (`ChannelAccessArchivingChannel.java:878 LoC`,
`SampleListener.java`). `functions/ca_wire.py` already attests the
monitor-event byte layout; this module closes the remaining seam — the
live connection lifecycle — with a real TCP client speaking the public
CA protocol (R3.14+ spec):

  client -> server: VERSION(0), CLIENT_NAME(20), HOST_NAME(21),
                    CREATE_CHAN(18), EVENT_ADD(1) request,
                    EVENT_CANCEL(2), CLEAR_CHANNEL(12)
  server -> client: VERSION(0), ACCESS_RIGHTS(22), CREATE_CHAN response
                    (native type/count + server-assigned sid),
                    EVENT_ADD responses (monitor events),
                    payload-0 EVENT_ADD (cancel confirm),
                    CLEAR_CHANNEL echo, CREATE_CH_FAIL(26)

Both sides do REAL stream work: the server deliberately fragments its
byte stream mid-frame, so the client's header/payload reassembly is
exercised on every run, and the sid <-> channel binding used downstream
is learned LIVE from CREATE_CHAN responses — not precomputed.

:class:`CAServerSim` is the embedded IOC stand-in (the same test-double
pattern the Kafka seam uses: deterministic schedule in, real protocol
bytes out). `ca_subscribe` is the production-shaped client; point it at
a real IOC's host/port and the same handshake applies.

Scale shape: the live socket is inherently a per-connection driver-side
concern (the reference holds one CA connection per channel group too);
the DISTRIBUTED work — frame decode, sid resolution, decimation — stays
in Spark via `ca_wire.decode_monitor_events`. The `ca_live_subscribe`
registry query therefore attests the protocol machinery at validation
scale while the 100 TB path (captured frames as a table) is the
already-attested `ca_ingest_roundtrip_1h` shape.
"""

from __future__ import annotations

import re
import socket
import struct
import threading
from dataclasses import dataclass, field

CA_PROTO_VERSION = 0
CA_PROTO_EVENT_ADD = 1
CA_PROTO_EVENT_CANCEL = 2
CA_PROTO_CLEAR_CHANNEL = 12
CA_PROTO_CREATE_CHAN = 18
CA_PROTO_CLIENT_NAME = 20
CA_PROTO_HOST_NAME = 21
CA_PROTO_ACCESS_RIGHTS = 22
CA_PROTO_CREATE_CH_FAIL = 26

CA_PROTO_SEARCH = 6
CA_PROTO_NOT_FOUND = 14
CA_PROTO_RSRV_IS_UP = 13

CA_MINOR_VERSION = 13
DBR_DOUBLE = 6
DBR_TIME_DOUBLE = 20
DBE_VALUE = 1
DBE_ALARM = 4

#: native DBR code per family; TIME = base + 14, CTRL = base + 28
DBR_BASE = {"string": 0, "short": 1, "float": 2, "enum": 3, "char": 4,
            "long": 5, "double": 6}
_BASE_FAMILY = {v: k for k, v in DBR_BASE.items()}

#: UDP search reply flags (CA spec)
CA_DO_REPLY = 10
CA_DONT_REPLY = 5

#: client-chosen subscription-id bit distinguishing the controls
#: monitor from the time monitor on the same channel
CTRL_SUBID_FLAG = 0x40000000

_HDR = struct.Struct(">HHHHII")


def _pad8(name: str) -> bytes:
    raw = name.encode() + b"\x00"
    return raw + b"\x00" * (-len(raw) % 8)


def _msg(cmd: int, dtype: int, count: int, p1: int, p2: int,
         payload: bytes = b"") -> bytes:
    return _HDR.pack(cmd, len(payload), dtype, count, p1, p2) + payload


class _FrameReader:
    """Reassemble CA frames from an arbitrary byte stream (frames arrive
    split and coalesced across TCP segments)."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""

    def next_frame(self) -> tuple[int, int, int, int, int, bytes]:
        while True:
            if len(self._buf) >= 16:
                cmd, psize, dtype, count, p1, p2 = _HDR.unpack_from(self._buf)
                hdr = 16
                if psize == 0xFFFF and count == 0:
                    if len(self._buf) >= 24:
                        psize, count = struct.unpack_from(">II", self._buf, 16)
                        hdr = 24
                    else:
                        psize = -1  # need more bytes for the extended header
                if psize >= 0 and len(self._buf) >= hdr + psize:
                    frame = self._buf[: hdr + psize]
                    self._buf = self._buf[hdr + psize :]
                    return (cmd, dtype, count, p1, p2, frame)
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("CA peer closed mid-stream")
            self._buf += chunk


@dataclass
class CAServerSim:
    """Embedded CA server (IOC stand-in): serves a deterministic
    schedule ``channel -> [(t_ns, v, severity, status), ...]`` to any
    client that completes the real handshake. Pushes a channel's whole
    schedule on EVENT_ADD (the camonitor replay shape), confirms
    cancels with the spec's payload-0 EVENT_ADD response, and answers
    unknown channels with CREATE_CH_FAIL.

    ``fragment`` > 0 sends the outbound stream in chunks of that many
    bytes (deliberately splitting frames) so client reassembly is
    always exercised.
    """

    schedule: dict[str, list[tuple[int, float, int, int]]]
    #: typed channels: name -> {"family": str, "events": [(t_ns, values
    #: list, severity, status, meta dict|None, labels list|None), ...]}
    #: — a channel with a non-double native type; served through the
    #: reference's two-monitor contract (controls monitor gets a
    #: DBR_CTRL_* frame at subscribe + one per metadata change, time
    #: monitor gets the DBR_TIME_* events).
    typed_schedule: dict[str, dict] | None = None
    fragment: int = 999
    #: fault injection: close the FIRST connection after this many
    #: monitor frames (cutting the next frame mid-bytes); subsequent
    #: connections serve fully — the reconnect-and-replay scenario
    drop_after_frames: int | None = None
    port: int = field(default=0, init=False)
    _frames_sent: int = field(default=0, init=False)
    _srv: socket.socket | None = field(default=None, init=False)
    _thread: threading.Thread | None = field(default=None, init=False)

    def __enter__(self) -> "CAServerSim":
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self._srv is not None:
            self._srv.close()

    def _send(self, conn: socket.socket, data: bytes) -> None:
        if self.fragment <= 0:
            conn.sendall(data)
            return
        for i in range(0, len(data), self.fragment):
            conn.sendall(data[i : i + self.fragment])

    def _serve(self) -> None:
        assert self._srv is not None
        while True:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return  # server closed
            with conn:
                try:
                    self._session(conn)
                except (ConnectionError, OSError):
                    continue  # client vanished; await the next connection

    def _typed(self, name: str) -> dict | None:
        return (self.typed_schedule or {}).get(name)

    def _session(self, conn: socket.socket) -> None:
        from ..functions.ca_wire import encode_monitor_event
        from ..functions.ca_wire_typed import (
            encode_ctrl_event,
            encode_time_event,
        )

        reader = _FrameReader(conn)
        sids: dict[int, str] = {}
        #: per-sid controls-monitor subscription + last controls value
        #: sent on it — a typed channel's metadata changes fire this
        #: monitor (the reference's metaDataMonitorMask contract)
        ctrl_sub: dict[int, int] = {}
        last_ctrl: dict[int, tuple] = {}
        next_sid = 1000

        def _ctrl_frame(sid: int, fam: str, meta, labels) -> bytes:
            last_ctrl[sid] = (meta, labels)
            return encode_ctrl_event(
                ctrl_sub[sid], fam, meta=meta, labels=labels
            )

        try:
            while True:
                cmd, dtype, count, p1, p2, frame = reader.next_frame()
                if cmd == CA_PROTO_VERSION:
                    self._send(
                        conn,
                        _msg(CA_PROTO_VERSION, 0, CA_MINOR_VERSION, 0, 0),
                    )
                elif cmd in (CA_PROTO_CLIENT_NAME, CA_PROTO_HOST_NAME):
                    pass  # informational
                elif cmd == CA_PROTO_CREATE_CHAN:
                    name = frame[16:].split(b"\x00", 1)[0].decode()
                    cid = p1
                    typed = self._typed(name)
                    if name not in self.schedule and typed is None:
                        self._send(
                            conn,
                            _msg(CA_PROTO_CREATE_CH_FAIL, 0, 0, cid, 0),
                        )
                        continue
                    sid = next_sid
                    next_sid += 1
                    sids[sid] = name
                    if typed is not None:
                        ndtype = DBR_BASE[typed["family"]]
                        ncount = max(len(e[1]) for e in typed["events"])
                    else:
                        ndtype, ncount = DBR_DOUBLE, 1
                    self._send(
                        conn,
                        _msg(CA_PROTO_ACCESS_RIGHTS, 0, 0, cid, 3)
                        + _msg(CA_PROTO_CREATE_CHAN, ndtype, ncount, cid,
                               sid),
                    )
                elif cmd == CA_PROTO_EVENT_ADD and (
                    typed := self._typed(sids.get(p1, ""))
                ) is not None:
                    sid, subid = p1, p2
                    fam = typed["family"]
                    if dtype == DBR_BASE[fam] + 28:
                        # controls monitor: first controls value now,
                        # one more per metadata change during the stream
                        ctrl_sub[sid] = subid
                        ev0 = typed["events"][0]
                        self._send(
                            conn, _ctrl_frame(sid, fam, ev0[4], ev0[5])
                        )
                    elif dtype == DBR_BASE[fam] + 14:
                        out = []
                        for t, values, sev, st, meta, labels in \
                                typed["events"]:
                            if (
                                (meta is not None or labels is not None)
                                and last_ctrl.get(sid) != (meta, labels)
                            ):
                                out.append(
                                    _ctrl_frame(sid, fam, meta, labels)
                                )
                            out.append(encode_time_event(
                                subid, t, fam, values, sev, st
                            ))
                        self._send(conn, b"".join(out))
                    else:
                        raise ValueError(
                            f"bad typed EVENT_ADD: dtype={dtype} fam={fam}"
                        )
                elif cmd == CA_PROTO_EVENT_ADD:
                    sid, subid = p1, p2
                    if dtype != DBR_TIME_DOUBLE or sids.get(sid) is None:
                        raise ValueError(
                            f"bad EVENT_ADD: dtype={dtype} sid={sid}"
                        )
                    events = [
                        encode_monitor_event(subid, t, v, sev, st)
                        for t, v, sev, st in self.schedule[sids[sid]]
                    ]
                    if self.drop_after_frames is not None:
                        allow = self.drop_after_frames - self._frames_sent
                        if allow < len(events):
                            # fault: whole frames up to the budget,
                            # then HALF of the next frame, then cut
                            cut = b"".join(events[: max(allow, 0)])
                            nxt = events[max(allow, 0)]
                            cut += nxt[: len(nxt) // 2]
                            self.drop_after_frames = None  # only once
                            self._send(conn, cut)
                            raise ConnectionError("injected drop")
                    self._frames_sent += len(events)
                    self._send(conn, b"".join(events))
                elif cmd == CA_PROTO_EVENT_CANCEL:
                    # spec: confirm with a payload-0 EVENT_ADD response
                    self._send(
                        conn, _msg(CA_PROTO_EVENT_ADD, dtype, 0, p1, p2)
                    )
                elif cmd == CA_PROTO_CLEAR_CHANNEL:
                    self._send(
                        conn, _msg(CA_PROTO_CLEAR_CHANNEL, 0, 0, p1, p2)
                    )
                else:
                    raise ValueError(f"unexpected CA command {cmd}")
        except (ConnectionError, OSError):
            return  # client hung up after CLEAR — normal shutdown


def ca_subscribe(
    host: str,
    port: int,
    channels: list[str],
    n_expected: int,
    client_name: str = "pv-archiver-spark",
    timeout_s: float = 30.0,
    on_frame=None,
) -> tuple[list[tuple[str, bytes]], dict[int, str]]:
    """Run the full CA client lifecycle against a live server and return
    ``(frames, bindings)``: the raw monitor-event frames (tagged with
    their channel) and the subscription-id -> channel map learned from
    the live CREATE_CHAN handshake.

    Lifecycle (mirroring the reference client): VERSION exchange ->
    CLIENT_NAME/HOST_NAME -> CREATE_CHAN per channel (await
    ACCESS_RIGHTS + create response carrying the server's sid) ->
    EVENT_ADD subscription per channel -> collect ``n_expected`` monitor
    events -> EVENT_CANCEL each (await the payload-0 confirm) ->
    CLEAR_CHANNEL each (await the echo) -> close.

    Control frames are consumed here; only monitor-update frames are
    returned, ready for `ca_wire.decode_monitor_events` on the Spark
    side. A channel the server refuses (CREATE_CH_FAIL) raises — the
    archiver must know a PV does not resolve.
    """
    with socket.create_connection((host, port), timeout=timeout_s) as sock:
        reader = _FrameReader(sock)
        sock.sendall(
            _msg(CA_PROTO_VERSION, 0, CA_MINOR_VERSION, 0, 0)
            + _msg(CA_PROTO_CLIENT_NAME, 0, 0, 0, 0, _pad8(client_name))
            + _msg(CA_PROTO_HOST_NAME, 0, 0, 0, 0, _pad8("localhost"))
        )
        cmd, *_ = reader.next_frame()
        if cmd != CA_PROTO_VERSION:
            raise ValueError(f"expected VERSION response, got command {cmd}")

        # create channels: cid is client-chosen; sid comes back live
        cid_to_channel = {i: ch for i, ch in enumerate(channels)}
        for cid, ch in cid_to_channel.items():
            sock.sendall(
                _msg(CA_PROTO_CREATE_CHAN, 0, CA_MINOR_VERSION, cid, 0,
                     _pad8(ch))
            )
        sid_by_cid: dict[int, int] = {}
        while len(sid_by_cid) < len(channels):
            cmd, dtype, count, p1, p2, _f = reader.next_frame()
            if cmd == CA_PROTO_ACCESS_RIGHTS:
                continue
            if cmd == CA_PROTO_CREATE_CH_FAIL:
                raise ValueError(
                    f"channel does not resolve: {cid_to_channel[p1]!r}"
                )
            if cmd != CA_PROTO_CREATE_CHAN:
                raise ValueError(f"unexpected command {cmd} during create")
            if (dtype, count) != (DBR_DOUBLE, 1):
                raise NotImplementedError(
                    f"native type/count ({dtype},{count}): scalar doubles only"
                )
            sid_by_cid[p1] = p2

        # subscribe: subscription id = cid (client-chosen, spec-typical)
        bindings = {cid: cid_to_channel[cid] for cid in cid_to_channel}
        for cid, sid in sid_by_cid.items():
            sock.sendall(
                _msg(CA_PROTO_EVENT_ADD, DBR_TIME_DOUBLE, 1, sid, cid,
                     struct.pack(">fffHxx", 0.0, 0.0, 0.0,
                                 DBE_VALUE | DBE_ALARM))
            )

        # on_frame (when given) observes every monitor frame AS RECEIVED —
        # the at-least-once spooling hook: on a connection fault, frames
        # already delivered to on_frame stay delivered (downstream dedup
        # reconciles), mirroring SampleListener's fire-per-event contract.
        # A truthy on_frame return stops collection early (the spooling
        # layer's capture-complete signal — it counts UNIQUE frames, so
        # a reconnect replay must not burn the raw-frame quota).
        frames: list[tuple[str, bytes]] = []
        n_got = 0
        done = False
        while not done and n_got < n_expected:
            cmd, dtype, count, p1, p2, frame = reader.next_frame()
            if cmd != CA_PROTO_EVENT_ADD:
                raise ValueError(f"unexpected command {cmd} mid-subscription")
            if len(frame) == 16:  # payload-0: a stray cancel confirm
                raise ValueError(f"unexpected cancel confirm for sub {p2}")
            n_got += 1
            if on_frame is not None:
                done = bool(on_frame(bindings[p2], frame))
            else:
                frames.append((bindings[p2], frame))

        # teardown: cancel every subscription, then clear every channel
        for cid, sid in sid_by_cid.items():
            sock.sendall(
                _msg(CA_PROTO_EVENT_CANCEL, DBR_TIME_DOUBLE, 1, sid, cid)
            )
        confirmed: set[int] = set()
        while len(confirmed) < len(sid_by_cid):
            cmd, dtype, count, p1, p2, frame = reader.next_frame()
            if cmd == CA_PROTO_EVENT_ADD and len(frame) == 16:
                confirmed.add(p2)
            elif cmd == CA_PROTO_EVENT_ADD:
                # a monitor update raced the cancel: the reference drops
                # post-cancel updates the same way
                continue
            else:
                raise ValueError(f"unexpected command {cmd} during cancel")
        for cid, sid in sid_by_cid.items():
            sock.sendall(_msg(CA_PROTO_CLEAR_CHANNEL, 0, 0, sid, cid))
        cleared: set[int] = set()
        while len(cleared) < len(sid_by_cid):
            cmd, _d, _c, p1, p2, _f = reader.next_frame()
            if cmd != CA_PROTO_CLEAR_CHANNEL:
                raise ValueError(f"unexpected command {cmd} during clear")
            cleared.add(p1)
        return (frames, bindings)


def ca_subscribe_typed(
    host: str,
    port: int,
    channels: list[str],
    n_time_expected: int,
    client_name: str = "pv-archiver-spark",
    timeout_s: float = 30.0,
) -> tuple[list[tuple[int, str, bytes]], dict[int, str]]:
    """Typed two-monitor CA client lifecycle: per channel, learn the
    NATIVE data type live from the CREATE_CHAN response, subscribe the
    controls monitor (native type + 28, metadata), await the first
    controls value, THEN subscribe the time monitor (native type + 14)
    — the reference's ordering guarantee that metadata exists before
    the first sample (`ChannelAccessArchivingChannel.java:622-628`:
    "We do not register a listener for the timeMonitor yet").

    Returns ``(frames, bindings)``: every monitor frame (controls and
    time, interleaved) tagged with its arrival sequence number and
    channel — exactly the (seq, frame) capture
    `functions/ca_wire_typed.py` decodes and LOCF-assembles — plus the
    subscription-id -> channel map for BOTH monitors."""
    with socket.create_connection((host, port), timeout=timeout_s) as sock:
        reader = _FrameReader(sock)
        sock.sendall(
            _msg(CA_PROTO_VERSION, 0, CA_MINOR_VERSION, 0, 0)
            + _msg(CA_PROTO_CLIENT_NAME, 0, 0, 0, 0, _pad8(client_name))
            + _msg(CA_PROTO_HOST_NAME, 0, 0, 0, 0, _pad8("localhost"))
        )
        cmd, *_ = reader.next_frame()
        if cmd != CA_PROTO_VERSION:
            raise ValueError(f"expected VERSION response, got command {cmd}")

        cid_to_channel = {i: ch for i, ch in enumerate(channels)}
        for cid, ch in cid_to_channel.items():
            sock.sendall(
                _msg(CA_PROTO_CREATE_CHAN, 0, CA_MINOR_VERSION, cid, 0,
                     _pad8(ch))
            )
        sid_by_cid: dict[int, int] = {}
        native: dict[int, int] = {}
        while len(sid_by_cid) < len(channels):
            cmd, dtype, count, p1, p2, _f = reader.next_frame()
            if cmd == CA_PROTO_ACCESS_RIGHTS:
                continue
            if cmd == CA_PROTO_CREATE_CH_FAIL:
                raise ValueError(
                    f"channel does not resolve: {cid_to_channel[p1]!r}"
                )
            if cmd != CA_PROTO_CREATE_CHAN:
                raise ValueError(f"unexpected command {cmd} during create")
            if dtype not in _BASE_FAMILY:
                raise NotImplementedError(f"unknown native type {dtype}")
            sid_by_cid[p1] = p2
            native[p1] = dtype

        bindings: dict[int, str] = {}
        frames: list[tuple[int, str, bytes]] = []
        seq = 0

        def _take(expect_time: bool | None, budget: int) -> int:
            """Collect monitor frames; count = matching frames taken."""
            nonlocal seq
            got = 0
            while got < budget:
                cmd, dtype, count, p1, p2, frame = reader.next_frame()
                if cmd != CA_PROTO_EVENT_ADD:
                    raise ValueError(f"unexpected command {cmd} mid-stream")
                if len(frame) == 16:
                    raise ValueError("unexpected cancel confirm")
                frames.append((seq, bindings[p2], frame))
                seq += 1
                is_time = 14 <= dtype <= 20
                if expect_time is None or is_time == expect_time:
                    got += 1
            return got

        # controls monitors first; ONE first-controls value per channel
        for cid, sid in sid_by_cid.items():
            bindings[cid | CTRL_SUBID_FLAG] = cid_to_channel[cid]
            sock.sendall(
                _msg(CA_PROTO_EVENT_ADD, native[cid] + 28, 1, sid,
                     cid | CTRL_SUBID_FLAG,
                     struct.pack(">fffHxx", 0.0, 0.0, 0.0, DBE_ALARM))
            )
            _take(expect_time=False, budget=1)
        # then time monitors (count 0 = server-native/dynamic count)
        for cid, sid in sid_by_cid.items():
            bindings[cid] = cid_to_channel[cid]
            sock.sendall(
                _msg(CA_PROTO_EVENT_ADD, native[cid] + 14, 0, sid, cid,
                     struct.pack(">fffHxx", 0.0, 0.0, 0.0,
                                 DBE_VALUE | DBE_ALARM))
            )
        _take(expect_time=True, budget=n_time_expected)

        # teardown: cancel both monitors, then clear channels
        for cid, sid in sid_by_cid.items():
            sock.sendall(
                _msg(CA_PROTO_EVENT_CANCEL, native[cid] + 28, 1, sid,
                     cid | CTRL_SUBID_FLAG)
                + _msg(CA_PROTO_EVENT_CANCEL, native[cid] + 14, 0, sid, cid)
            )
        confirmed: set[int] = set()
        while len(confirmed) < 2 * len(sid_by_cid):
            cmd, dtype, count, p1, p2, frame = reader.next_frame()
            if cmd == CA_PROTO_EVENT_ADD and len(frame) == 16:
                confirmed.add(p2)
            elif cmd == CA_PROTO_EVENT_ADD:
                continue  # update raced the cancel; dropped like the ref
            else:
                raise ValueError(f"unexpected command {cmd} during cancel")
        for cid, sid in sid_by_cid.items():
            sock.sendall(_msg(CA_PROTO_CLEAR_CHANNEL, 0, 0, sid, cid))
        cleared: set[int] = set()
        while len(cleared) < len(sid_by_cid):
            cmd, _d, _c, p1, p2, _f = reader.next_frame()
            if cmd != CA_PROTO_CLEAR_CHANNEL:
                raise ValueError(f"unexpected command {cmd} during clear")
            cleared.add(p1)
        return (frames, bindings)


# ---------------------------------------------------------------------------
# UDP name resolution: CA_PROTO_SEARCH + RSRV_IS_UP beacons
# ---------------------------------------------------------------------------


@dataclass
class CANameServer:
    """UDP side of an IOC: answers CA_PROTO_SEARCH datagrams for the PVs
    it hosts with the TCP port to connect to, and can emit RSRV_IS_UP
    beacons. The reference resolves PV names exactly this way (its CA
    client library broadcasts SEARCH; `ChannelAccessArchivingChannel`
    never configures a host:port per channel).

    ``registry``: pv name -> TCP port of the serving CAServerSim."""

    registry: dict[str, int]
    port: int = field(default=0, init=False)
    beacon_id: int = field(default=0, init=False)
    _sock: socket.socket | None = field(default=None, init=False)
    _thread: threading.Thread | None = field(default=None, init=False)

    def __enter__(self) -> "CANameServer":
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind(("127.0.0.1", 0))
        self.port = self._sock.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self._sock is not None:
            self._sock.close()

    def emit_beacon(self, host: str, port: int, tcp_port: int) -> None:
        """One CA_PROTO_RSRV_IS_UP datagram (spec: dtype = minor
        version, count = TCP server port, p1 = incrementing beacon id,
        p2 = server address or 0 = sender's). Clients use beacons to
        learn a server (re)started and re-issue pending searches."""
        self.beacon_id += 1
        assert self._sock is not None
        self._sock.sendto(
            _msg(CA_PROTO_RSRV_IS_UP, CA_MINOR_VERSION, tcp_port,
                 self.beacon_id, 0),
            (host, port),
        )

    def _serve(self) -> None:
        assert self._sock is not None
        while True:
            try:
                data, addr = self._sock.recvfrom(65536)
            except OSError:
                return  # closed
            reply = b""
            off = 0
            while off + 16 <= len(data):
                cmd, psize, dtype, count, p1, p2 = _HDR.unpack_from(
                    data, off
                )
                body = data[off + 16: off + 16 + psize]
                off += 16 + psize
                if cmd == CA_PROTO_VERSION:
                    continue
                if cmd != CA_PROTO_SEARCH:
                    continue
                name = body.split(b"\x00", 1)[0].decode()
                if name in self.registry:
                    # reply: dtype = TCP port, p1 = 0xFFFFFFFF (= use
                    # the datagram's source address), p2 = search id,
                    # payload = uint16 server protocol version
                    reply += _msg(
                        CA_PROTO_SEARCH, self.registry[name], 0,
                        0xFFFFFFFF, p2,
                        struct.pack(">H6x", CA_MINOR_VERSION),
                    )
                elif dtype == CA_DO_REPLY:
                    reply += _msg(CA_PROTO_NOT_FOUND, dtype, count, p1, p2)
            if reply:
                self._sock.sendto(reply, addr)


def ca_resolve(
    names: list[str],
    ns_host: str,
    ns_port: int,
    timeout_s: float = 5.0,
    retries: int = 3,
) -> dict[str, tuple[str, int]]:
    """Resolve PV names to (host, tcp_port) via CA_PROTO_SEARCH over
    UDP — the reference's name-resolution step. All names go out in one
    datagram (VERSION prefix + one SEARCH each, the spec's batching);
    unanswered names are re-sent up to ``retries`` times (UDP is
    lossy); a CA_PROTO_NOT_FOUND or exhausted retries raises — the
    archiver must know a PV does not resolve."""
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
        sock.settimeout(timeout_s / max(retries, 1))
        sid_to_name = dict(enumerate(names))
        resolved: dict[str, tuple[str, int]] = {}
        for _attempt in range(retries):
            pending = [
                (i, n) for i, n in sid_to_name.items() if n not in resolved
            ]
            if not pending:
                break
            out = _msg(CA_PROTO_VERSION, 0, CA_MINOR_VERSION, 0, 0)
            for i, n in pending:
                out += _msg(CA_PROTO_SEARCH, CA_DO_REPLY, CA_MINOR_VERSION,
                            i, i, _pad8(n))
            sock.sendto(out, (ns_host, ns_port))
            try:
                while len(resolved) < len(names):
                    data, addr = sock.recvfrom(65536)
                    off = 0
                    while off + 16 <= len(data):
                        cmd, psize, dtype, count, p1, p2 = _HDR.unpack_from(
                            data, off
                        )
                        off += 16 + psize
                        if cmd == CA_PROTO_NOT_FOUND:
                            raise ValueError(
                                "channel does not resolve:"
                                f" {sid_to_name[p2]!r}"
                            )
                        if cmd != CA_PROTO_SEARCH:
                            continue
                        host = (
                            addr[0] if p1 == 0xFFFFFFFF
                            else socket.inet_ntoa(struct.pack(">I", p1))
                        )
                        resolved[sid_to_name[p2]] = (host, dtype)
            except socket.timeout:
                continue
        missing = [n for n in names if n not in resolved]
        if missing:
            raise ConnectionError(f"CA search unanswered for {missing}")
        return resolved


def ca_subscribe_by_name(
    names: list[str],
    ns_host: str,
    ns_port: int,
    n_expected: int | dict[str, int],
    **kw,
):
    """Name-resolved subscription: CA_PROTO_SEARCH finds each PV's
    server, then the normal TCP lifecycle runs per server — no
    configured host:port anywhere, the reference's actual connect path.
    ``n_expected``: total monitor-event count, or a per-channel dict
    (required when PVs resolve to DIFFERENT servers, so each
    connection awaits exactly its own channels' share). Returns merged
    (frames, bindings) across servers."""
    where = ca_resolve(names, ns_host, ns_port)
    by_server: dict[tuple[str, int], list[str]] = {}
    for n in names:
        by_server.setdefault(where[n], []).append(n)
    if isinstance(n_expected, int) and len(by_server) > 1:
        raise ValueError(
            "PVs resolve to multiple servers: pass n_expected as a"
            " per-channel dict so each connection awaits its own share"
        )
    frames: list[tuple[str, bytes]] = []
    bindings: dict[int, str] = {}
    base = 0
    for (host, port), chans in by_server.items():
        n = (
            n_expected if isinstance(n_expected, int)
            else sum(n_expected[c] for c in chans)
        )
        f, b = ca_subscribe(host, port, chans, n, **kw)
        frames.extend(f)
        bindings.update({base + cid: ch for cid, ch in b.items()})
        base += len(chans)
    return frames, bindings


_CHUNK_RE = re.compile(r"^chunk-(\d+)\.parquet$")


def _spool_resume_state(spool_dir: str) -> tuple[int, int]:
    """(next chunk index, mtime epoch) for a capture over a possibly
    pre-populated spool. The index is parsed NUMERICALLY: the writer
    zero-pads to 5 digits, but past chunk-99999 the name grows a digit
    and lexicographic order (or a fixed [6:11] slice) would pick the
    wrong maximum and restart the counter into live chunks."""
    import os
    import time

    indexed = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(spool_dir)
        if (m := _CHUNK_RE.match(f))
    )
    if indexed:
        last_idx, last_name = indexed[-1]
        last = os.path.join(spool_dir, last_name)
        return last_idx + 1, int(os.stat(last).st_mtime) - last_idx
    # backdated far enough that index-spaced mtimes (1 s per chunk)
    # stay in the past for any realistic capture size
    return 0, int(time.time()) - 7 * 86400


def spool_capture(
    host: str,
    port: int,
    channels: list[str],
    n_expected: int,
    spool_dir: str,
    chunk_frames: int = 500,
    max_retries: int = 3,
    **kw,
) -> dict[int, str]:
    """Run the live CA lifecycle and spool the monitor frames to
    ``spool_dir`` as parquet chunk files AS THEY ARRIVE (every
    ``chunk_frames`` frames -> one file) — the bridge between the
    socket-bound client and Spark's replayable file source. Returns the
    live sid -> channel bindings for the broadcast resolution dim.

    Chunk files are written atomically (tmp + rename) so a concurrent
    ``readStream`` never sees a partial file.

    ``n_expected`` counts UNIQUE (channel, frame) events: a reconnect
    makes the server replay its monitor stream, and counting raw frames
    would let replayed duplicates consume the quota while the tail of
    the schedule never arrives (observed under host load: 4 full chunks
    of duplicates spooled, the last 40 unique events lost). Duplicates
    are dropped at the spool — the downstream sink's monotonic guard
    would reconcile them anyway — and capture stops early via the
    ``on_frame`` return signal once the unique quota is met."""
    import hashlib
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    import time

    os.makedirs(spool_dir, exist_ok=True)
    # The mtime-ordering contract below assumes THIS capture owns the
    # chunk numbering: a second capture restarting at chunk-00000 would
    # silently overwrite earlier chunks with a new backdated epoch that
    # sorts unpredictably against the leftovers. Resume the numbering
    # and epoch from any existing chunks instead (numeric-index parse —
    # see _spool_resume_state).
    buf: list[tuple[str, bytes]] = []
    seen: set[bytes] = set()
    next_idx, _MTIME_EPOCH = _spool_resume_state(spool_dir)
    n_files = [next_idx]

    def _flush() -> None:
        if not buf:
            return
        tbl = pa.table(
            {
                "channel": pa.array([c for c, _ in buf], pa.string()),
                "frame": pa.array([f for _, f in buf], pa.binary()),
            }
        )
        tmp = os.path.join(spool_dir, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(tbl, tmp)
        dst = os.path.join(spool_dir, f"chunk-{n_files[0]:05d}.parquet")
        os.rename(tmp, dst)
        # The sink's F5 monotonic guard REQUIRES chunks to be delivered
        # in capture order, but Spark's FileStreamSource orders the
        # initial listing by modification time — and chunks written
        # milliseconds apart tie, breaking order nondeterministically
        # (observed: a swapped pair makes the guard drop the earlier
        # chunk wholesale). The spool owns the ordering contract: stamp
        # each chunk with a strictly increasing mtime, 1 s apart so even
        # second-granularity filesystems preserve it.
        ts = _MTIME_EPOCH + n_files[0]
        os.utime(dst, (ts, ts))
        n_files[0] += 1
        buf.clear()

    def _on_frame(ch: str, fr: bytes) -> bool:
        k = hashlib.md5(ch.encode() + b"\0" + fr).digest()
        if k not in seen:
            seen.add(k)
            buf.append((ch, fr))
            if len(buf) >= chunk_frames:
                _flush()
        return len(seen) >= n_expected

    # at-least-once with reconnect: a dropped connection flushes what
    # arrived (already-spooled frames stay spooled) and resubscribes
    # from scratch — replayed duplicates are skipped by the seen-set, so
    # the unique quota keeps making progress across attempts. This is
    # the reference client's reconnect role
    # (ChannelAccessArchivingChannel connection monitoring). A SUCCESSFUL
    # subscribe that still came up short on unique frames (the raw-frame
    # quota was consumed by a replay) retries the same way.
    last: Exception | str | None = None
    for attempt in range(max_retries + 1):
        try:
            _, bindings = ca_subscribe(
                host, port, channels, n_expected, on_frame=_on_frame, **kw
            )
            _flush()
            if len(seen) >= n_expected:
                return bindings
            last = f"{len(seen)}/{n_expected} unique frames"
        except (ConnectionError, socket.timeout) as exc:
            last = exc
            _flush()  # keep partial progress durable
        time.sleep(0.05 * (attempt + 1))
    raise ConnectionError(
        f"CA capture failed after {max_retries + 1} attempts: {last}"
    )


def start_ca_ingest(
    spark,
    spool_dir: str,
    bindings: dict[int, str],
    store,
    checkpoint_dir: str,
    cascade_periods: list[int] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_batch=None,
):
    """Live-CA ingestion as the FOURTH source behind the source-agnostic
    sink (file / rate / Kafka / CA): a file ``readStream`` over the
    spooled frame chunks, the Spark-side wire decode
    (`ca_wire.decode_monitor_events` — mapInPandas runs under Structured
    Streaming), stream-static broadcast sid resolution from the LIVE
    handshake bindings, then the shared guarded ``foreachBatch`` store
    sink + decimation cascade (`start_ingest`). Exactly-once comes from
    the spool being a replayable source plus the sink's hwm guard — the
    same contract the other three sources pin.

    Reference: this is `ChannelAccessArchivingChannel.java` ->
    `SampleListener.java` -> archive pipeline, with the listener's
    in-memory queue replaced by a replayable spool (bounded queues T1
    are vacuous by SURVEY's mapping for exactly this reason)."""
    from ..functions import ca_wire
    from .ingest import start_ingest

    reader = spark.readStream.schema("channel string, frame binary")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    frames = reader.parquet(spool_dir)
    events = ca_wire.decode_monitor_events(frames)
    dim = spark.createDataFrame(
        [(int(s), c) for s, c in bindings.items()], "sid long, channel string"
    )
    samples = ca_wire.resolve_subscriptions(events, dim)
    return start_ingest(
        samples,
        store,
        checkpoint_dir,
        cascade_periods=cascade_periods,
        available_now=available_now,
        on_batch=on_batch,
    )
