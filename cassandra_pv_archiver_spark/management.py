"""Management surface: channel-configuration registry (CRUD), XML config
import/export, channel-name URL codec.

Replaces the reference's admin machinery (`ArchiveConfigurationService.java`
add/update/remove/move/rename operations; `ChannelMetaDataDAOImpl` channels
tables) with a small parquet dimension table — the cluster/internode layers
are intentionally dropped (SURVEY.md §7.6): Spark owns the cluster.

The XML format mirrors `ArchiveServerConfigurationXmlExport.java:55-190` /
`ArchiveServerConfigurationXmlImport.java`: a ``server-configuration`` root
of ``channel`` elements (attributes ``name``, ``control-system-type``,
``enabled``) containing ``decimation-level`` elements (``decimation-period``,
``retention-period``) and ``control-system-option`` elements (``name``,
``value``).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
import xml.etree.ElementTree as ET
from collections.abc import Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.glob import glob_to_regex

CHANNEL_SCHEMA = (
    "channel_name string, channel_data_id string, control_system_type string,"
    " enabled boolean, decimation_levels map<int,int>,"
    " options map<string,string>"
)


@dataclass
class ChannelConfig:
    """One channel's configuration (`ChannelMetaDataDAO.ChannelConfiguration`,
    `ChannelMetaDataDAO.java:232`): decimation_levels maps period seconds ->
    retention seconds (0 = raw level / keep forever)."""

    channel_name: str
    control_system_type: str = "channel_access"
    enabled: bool = True
    decimation_levels: dict[int, int] = field(default_factory=lambda: {0: 0})
    options: dict[str, str] = field(default_factory=dict)
    channel_data_id: str = ""

    def __post_init__(self) -> None:
        if not self.channel_data_id:
            self.channel_data_id = str(uuid.uuid4())
        if 0 not in self.decimation_levels:
            self.decimation_levels[0] = 0


def _copy_config(c: ChannelConfig) -> ChannelConfig:
    """Independent copy (own dicts): the registry's internal state and
    handed-out snapshots must never share mutable structure."""
    return ChannelConfig(
        channel_name=c.channel_name,
        control_system_type=c.control_system_type,
        enabled=c.enabled,
        decimation_levels=dict(c.decimation_levels),
        options=dict(c.options),
        channel_data_id=c.channel_data_id,
    )


_PA_SCHEMA = None


def _pa_schema():
    global _PA_SCHEMA
    if _PA_SCHEMA is None:
        import pyarrow as pa

        _PA_SCHEMA = pa.schema(
            [
                ("channel_name", pa.string()),
                ("channel_data_id", pa.string()),
                ("control_system_type", pa.string()),
                ("enabled", pa.bool_()),
                ("decimation_levels", pa.map_(pa.int32(), pa.int32())),
                ("options", pa.map_(pa.string(), pa.string())),
            ]
        )
    return _PA_SCHEMA


def _parquet_readable(d: str) -> bool:
    """True iff ``d`` holds a fully-readable parquet table — the
    completeness check the crash-recovery promotion needs (a truncated
    file from a killed writer raises on read)."""
    import pyarrow.parquet as pq

    try:
        pq.read_table(d)
        return True
    except Exception:  # noqa: BLE001 - any unreadability means incomplete
        return False


def recover_atomic_dir(path: str) -> None:
    """Crash recovery for the :func:`atomic_swap_dir` protocol: a writer
    killed mid-swap leaves either (tmp complete, live renamed to .bak) or
    (live missing, .bak present). The NEW content (tmp) wins if it is
    VERIFIED complete (a truncated parquet from a killed write would
    brick every startup if promoted); otherwise the backup is restored —
    a registry never silently restarts empty. Shared by the channel and
    user registries."""
    tmp, bak = path + ".tmp", path + ".bak"
    if not os.path.isdir(path):
        if os.path.isdir(tmp) and _parquet_readable(tmp):
            os.rename(tmp, path)
        else:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)  # truncated first-ever flush
            if os.path.isdir(bak):
                os.rename(bak, path)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


def atomic_swap_dir(path: str, table) -> None:
    """Publish a pyarrow ``table`` at ``path`` via the backup-rename swap:
    write tmp, rename live -> .bak, tmp -> live, drop backup — never
    rmtree-the-live-dir-first (a crash in that window would lose every
    row). :func:`recover_atomic_dir` repairs either crash window."""
    import pyarrow.parquet as pq

    tmp, bak = path + ".tmp", path + ".bak"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    if os.path.isdir(bak):
        shutil.rmtree(bak)
    if os.path.isdir(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


class ChannelRegistry:
    """CRUD over the channel dimension table (a tiny parquet table written
    atomically; reads broadcast-join against the fact table).

    Persistence is driver-side pyarrow, not a Spark job: the registry is
    dimension metadata (100k channels ≈ a few MB), and a Spark write of a
    200-row table costs a full job + output commit for no parallelism win.
    Spark only ever *reads* this table (``to_df``) for broadcast joins."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._channels: dict[str, ChannelConfig] = {}
        #: serializes mutations + snapshot reads: the HTTP surface is a
        #: ThreadingHTTPServer, and two racing _flush swaps on one path
        #: can delete each other's backup inside the rename window (and
        #: last-writer-wins would silently drop the other's channel)
        self._lock = threading.RLock()
        recover_atomic_dir(self.path)
        if os.path.isdir(self.path):
            import pyarrow.parquet as pq

            for r in pq.read_table(self.path).to_pylist():
                self._channels[r["channel_name"]] = ChannelConfig(
                    channel_name=r["channel_name"],
                    channel_data_id=r["channel_data_id"],
                    control_system_type=r["control_system_type"],
                    enabled=r["enabled"],
                    # pyarrow maps materialize as [(k, v), ...]
                    decimation_levels=dict(r["decimation_levels"] or []),
                    options=dict(r["options"] or []),
                )

    # -- persistence ------------------------------------------------------
    def _flush(self) -> None:
        import pyarrow as pa

        rows = [
            {
                "channel_name": c.channel_name,
                "channel_data_id": c.channel_data_id,
                "control_system_type": c.control_system_type,
                "enabled": c.enabled,
                "decimation_levels": list(c.decimation_levels.items()),
                "options": list(c.options.items()),
            }
            for c in self._channels.values()
        ]
        atomic_swap_dir(
            self.path, pa.Table.from_pylist(rows, schema=_pa_schema())
        )

    def to_df(self) -> DataFrame:
        """The dimension table as a DataFrame (for broadcast joins, J3).

        Built from the IN-MEMORY snapshot under the lock, never from the
        parquet path (round-11 review): a lazily-evaluated file read
        races ``atomic_swap_dir``'s rename window — between the two
        renames the dir does not exist (an empty dim table silently
        drops every channel from a broadcast join), and a DataFrame
        planned before a flush can execute after it against replaced
        files. The registry is a bounded config table, so materializing
        the rows driver-side is exactly the "too small for a write job"
        economics the class docstring already claims."""
        with self._lock:
            rows = [
                (
                    c.channel_name,
                    c.channel_data_id,
                    c.control_system_type,
                    c.enabled,
                    dict(c.decimation_levels),
                    dict(c.options),
                )
                for c in self._channels.values()
            ]
        return self.spark.createDataFrame(rows, CHANNEL_SCHEMA)

    # -- CRUD (ArchiveConfigurationService add/update/remove/rename) ------
    # Every mutator is all-or-nothing (round-11 review): the in-memory
    # map changes only if _flush commits — a disk failure must not leave
    # serving state diverged from the persisted registry (admin_api's
    # cascades compensate on the assumption these calls are atomic).
    def add_channel(self, config: ChannelConfig) -> None:
        self.apply(adds=[config])

    def update_channel(self, config: ChannelConfig) -> None:
        self.apply(updates=[config])

    def apply(
        self,
        adds: Iterable[ChannelConfig] = (),
        updates: Iterable[ChannelConfig] = (),
    ) -> None:
        """Add ``adds``, then update ``updates``, in ONE flush and all or
        nothing: a name already present among ``adds``, a missing one
        among ``updates`` or a failed flush leaves the registry as it
        was. A batch of N channels writes the table once, where N
        ``add_channel``/``update_channel`` calls would rewrite it N
        times (O(N²) rows)."""
        with self._lock:
            before = dict(self._channels)
            try:
                for config in adds:
                    if config.channel_name in self._channels:
                        raise ValueError(
                            f"channel exists: {config.channel_name}"
                        )
                    self._channels[config.channel_name] = config
                for config in updates:
                    old = self._channels.get(config.channel_name)
                    if old is None:
                        raise KeyError(config.channel_name)
                    # data id is permanent (`SampleBucketId.java:80-89`)
                    config.channel_data_id = old.channel_data_id
                    self._channels[config.channel_name] = config
                self._flush()
            except Exception:
                self._channels.clear()
                self._channels.update(before)
                raise

    def remove_channel(self, name: str) -> ChannelConfig:
        with self._lock:
            cfg = self._channels.pop(name, None)
            if cfg is None:
                raise KeyError(name)
            try:
                self._flush()
            except Exception:
                self._channels[name] = cfg
                raise
            return cfg

    def rename_channel(self, old_name: str, new_name: str) -> None:
        """Rename the REGISTRY entry, keeping the permanent
        channel_data_id (`SampleBucketId.java:80-89`). The reference keys
        archived data by that id, so its rename is metadata-only — but
        THIS engine keys the sample layout by channel NAME, so archived
        history only follows the rename when ``ArchiveStore
        .rename_channel`` runs too (the admin command surface,
        ``AdminApp(registry, store=...)``, cascades both; callers using
        the registry directly own that second step)."""
        with self._lock:
            if old_name == new_name:
                if old_name not in self._channels:
                    raise KeyError(old_name)
                return  # renaming to itself is a no-op, not a collision
            if new_name in self._channels:
                raise ValueError(f"channel exists: {new_name}")
            cfg = self._channels.pop(old_name, None)
            if cfg is None:
                raise KeyError(old_name)
            # a COPY, not an in-place mutation: snapshots handed out
            # before the rename (export iterating list_channels) must
            # not see the name change under them (round-11 review)
            renamed = _copy_config(cfg)
            renamed.channel_name = new_name
            self._channels[new_name] = renamed
            try:
                self._flush()
            except Exception:
                del self._channels[new_name]
                self._channels[old_name] = cfg
                raise

    def get_channel(self, name: str) -> ChannelConfig | None:
        """A COPY of the config (or None): callers mutating the result
        cannot edit registry memory behind the lock (round-11 review)."""
        with self._lock:
            cfg = self._channels.get(name)
            return None if cfg is None else _copy_config(cfg)

    def list_channels(self) -> list[ChannelConfig]:
        """Sorted COPIES — a point-in-time snapshot that later mutations
        (rename's in-place name change was the round-11 review bug)
        can never alter."""
        with self._lock:
            return sorted(
                (_copy_config(c) for c in self._channels.values()),
                key=lambda c: c.channel_name,
            )

    def channels_by_glob(self, pattern: str) -> list[ChannelConfig]:
        """F2: ``*``/``?`` glob, case-insensitive
        (`Api10Controller.compileGlobPattern:307-345`)."""
        import re

        rx = re.compile(glob_to_regex(pattern), re.IGNORECASE)
        return [c for c in self.list_channels() if rx.match(c.channel_name)]


# -- XML round-trip (S8) ---------------------------------------------------

def export_xml(channels: list[ChannelConfig]) -> str:
    root = ET.Element("server-configuration")
    for c in sorted(channels, key=lambda x: x.channel_name):
        ch = ET.SubElement(root, "channel")
        ch.set("name", c.channel_name)
        ch.set("control-system-type", c.control_system_type)
        if not c.enabled:
            ch.set("enabled", "false")
        for period, retention in sorted(c.decimation_levels.items()):
            lv = ET.SubElement(ch, "decimation-level")
            lv.set("decimation-period", str(period))
            if retention:
                lv.set("retention-period", str(retention))
        for k in sorted(c.options):
            op = ET.SubElement(ch, "control-system-option")
            op.set("name", k)
            op.set("value", c.options[k])
    return ET.tostring(root, encoding="unicode", xml_declaration=True)


def import_xml(text: str) -> list[ChannelConfig]:
    root = ET.fromstring(text)
    if root.tag.split("}")[-1] != "server-configuration":
        raise ValueError(f"unexpected root element: {root.tag}")
    out = []
    for ch in root:
        if ch.tag.split("}")[-1] != "channel":
            continue
        levels: dict[int, int] = {}
        options: dict[str, str] = {}
        # validate at the point of import — a channel_name=None stored
        # here detonates far away (sort keys, registry lookups) with
        # errors that never mention the malformed XML
        name = ch.get("name")
        if not name:
            raise ValueError(
                "channel element without a name attribute in import"
            )
        for el in ch:
            tag = el.tag.split("}")[-1]
            if tag == "decimation-level":
                raw_period = el.get("decimation-period")
                if raw_period is None:
                    # the reference's schema-validated import REJECTS a
                    # missing decimation-period; defaulting to 0 would
                    # silently overwrite the RAW level's keep-forever
                    # retention and a later sweep would expire history
                    # the operator never meant to (round-11 review)
                    raise ValueError(
                        "decimation-level without a decimation-period "
                        f"attribute on channel {name!r}"
                    )
                period = int(raw_period)
                if period in levels:
                    raise ValueError(
                        f"duplicate decimation-level {period} on "
                        f"channel {name!r}"
                    )
                levels[period] = int(el.get("retention-period", "0"))
            elif tag == "control-system-option":
                oname = el.get("name")
                if not oname:
                    raise ValueError(
                        "control-system-option without a name attribute"
                        f" on channel {name!r}"
                    )
                options[oname] = el.get("value", "")
        out.append(
            ChannelConfig(
                channel_name=name,
                control_system_type=ch.get("control-system-type", "channel_access"),
                # xs:boolean: "false"/"0" (any case) disable — the
                # reference accepts both spellings; everything else
                # (incl. absent) is enabled (round-11 review: enabled=
                # "0" silently re-enabled a disabled channel)
                enabled=(ch.get("enabled", "true").strip().lower()
                         not in ("false", "0")),
                decimation_levels=levels or {0: 0},
                options=options,
            )
        )
    return out


# -- custom URL codec (C5, `common/.../CustomUrlCodec.java`) ----------------

_ALLOWED = set("-_")
_ALLOWED.update(chr(c) for c in range(0x30, 0x3A))  # 0-9
_ALLOWED.update(chr(c) for c in range(0x41, 0x5B))  # A-Z
_ALLOWED.update(chr(c) for c in range(0x61, 0x7B))  # a-z


def url_encode(s: str) -> str:
    """Percent-encode everything but [A-Za-z0-9_-] (uppercase hex, UTF-8),
    matching the reference's conservative channel-name codec."""
    out = []
    for b in s.encode("utf-8"):
        c = chr(b)
        if c in _ALLOWED:
            out.append(c)
        else:
            out.append(f"%{b:02X}")
    return "".join(out)


def url_decode(s: str) -> str:
    buf = bytearray()
    i = 0
    hexdigits = set("0123456789abcdefABCDEF")
    while i < len(s):
        c = s[i]
        if c == "%":
            hx = s[i + 1 : i + 3]
            # int(x, 16) accepts signs/whitespace and a short slice hides
            # truncation — validate the two hex digits explicitly
            if len(hx) != 2 or not set(hx) <= hexdigits:
                raise ValueError(f"malformed percent escape at {i}: {s!r}")
            buf.append(int(hx, 16))
            i += 3
        else:
            # literal characters pass through as their UTF-8 bytes:
            # `ord(c)` would raise a bare range error for c > U+00FF and
            # mojibake/UnicodeDecodeError for 128-255 (latin-1 byte fed
            # to the utf-8 decode below)
            buf.extend(c.encode("utf-8"))
            i += 1
    try:
        return buf.decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError(
            f"percent escapes do not decode as UTF-8: {s!r}"
        ) from e
