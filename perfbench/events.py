"""Seeded event backlog for the ingest workloads, with its manifest.

Each micro-batch is one JSONL file of reference-shaped events
(``job.data``): a routing key ``event_type``, camelCase keys, a nested
camelCase record, a variable-length array, dates in both reference
formats (``YYYY-MM-DDTHH:MM:SS`` and ``MM/DD/YYYY``), ints, floats and
bools, and ``__received_at`` on a share of events. About 2% of events
carry no routing key.

The drifting variant also evolves schemas mid-run: some types gain an
optional field (ADD COLUMN), and two types start sending one int field
as strings (ALTER COLUMN to String, which rewrites stored data).

The manifest is the expected outcome, derived from the generator's own
field model rather than from the engine: per table the row count, the
exact ``amount`` sum in cents and the final schema after flattening
(split records and array items on) and evolution; plus the number of
events without a routing key.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

TYPE_NAMES = (
    "page_view",
    "add_to_cart",
    "checkout",
    "search",
    "sign_up",
    "rating",
    "share",
    "logout",
)
OS_NAMES = ("android", "ios", "linux", "macos", "windows")
TAG_WORDS = ("new", "promo", "sale", "vip", "beta", "eu", "us", "mobile")
MISSING_KEY_SHARE = 0.02
RECEIVED_AT_SHARE = 0.3
MAX_TAGS = 3
SCREEN_WIDTHS = (360, 390, 768, 1280, 1920)
_BOOL = {True: "true", False: "false"}

# the system columns every table carries (stamped by the engine), and
# the default transform's ``timestamp`` copy of received_at
SYSTEM_SCHEMA = {
    "received_at": "timestamp",
    "sent_at": "timestamp",
    "message_id": "string",
    "timestamp": "timestamp",
}


def _camel(type_name: str) -> str:
    head, *rest = type_name.split("_")
    return head + "".join(w.capitalize() for w in rest)


@dataclass
class TypeModel:
    """One event type: its type-specific keys and its drift points."""

    name: str
    add_field_from: int | None = None  # batch index promoCode appears at
    stringify_count_from: int | None = None  # batch index the int turns string

    @property
    def count_key(self) -> str:
        return f"{_camel(self.name)}Count"

    @property
    def label_key(self) -> str:
        return f"{_camel(self.name)}Label"

    def final_schema(self) -> dict[str, str]:
        """Expected table schema: snake_case column -> Spark simple type."""
        cols = {
            "event_id": "bigint",
            "user_id": "bigint",
            "amount": "double",
            "is_mobile": "boolean",
            "device_info_os_name": "string",
            "device_info_screen_width": "bigint",
            "device_info_dark_mode": "boolean",
            **{f"tags_{i}": "string" for i in range(MAX_TAGS)},
            "created_at": "timestamp",
            "due_date": "timestamp",
            f"{self.name}_count": "bigint" if self.stringify_count_from is None else "string",
            f"{self.name}_label": "string",
        }
        if self.add_field_from is not None:
            cols["promo_code"] = "string"
        return {**cols, **SYSTEM_SCHEMA}


@dataclass
class Manifest:
    rows: dict[str, int] = field(default_factory=dict)
    amount_cents: dict[str, int] = field(default_factory=dict)
    schema: dict[str, dict[str, str]] = field(default_factory=dict)
    missing_routing_key: int = 0
    events: int = 0

    @property
    def routed(self) -> int:
        return self.events - self.missing_routing_key

    def to_json(self) -> dict:
        return {
            "rows": self.rows,
            "amount_cents": self.amount_cents,
            "schema": self.schema,
            "missing_routing_key": self.missing_routing_key,
            "events": self.events,
        }


@dataclass(frozen=True)
class BacklogSpec:
    """A workload's backlog: ``n_batches`` timed files with ``per_type``
    events of every type, after one warm-up file with ``warm_per_type``
    (default ``per_type``)."""

    n_types: int
    per_type: int
    n_batches: int
    drift: bool
    warm_per_type: int | None = None


class EventGenerator:
    def __init__(self, seed: int, spec: BacklogSpec):
        self.rng = np.random.default_rng(seed)
        self.spec = spec
        names = [TYPE_NAMES[i] for i in self.rng.permutation(len(TYPE_NAMES))]
        self.types = [TypeModel(n) for n in names[: spec.n_types]]
        if spec.drift:
            third = max(1, spec.n_batches // 3)
            for t in self.types[: max(1, spec.n_types // 2)]:
                t.add_field_from = int(self.rng.integers(third, 2 * third))
            for i in self.rng.choice(len(self.types), 2, replace=False):
                self.types[i].stringify_count_from = int(self.rng.integers(third, 2 * third))
        self.next_id = 0

    def _type_lines(self, t: TypeModel, batch: int, n: int, manifest: Manifest | None) -> list[str]:
        """``n`` events of type ``t``, formatted as JSON lines."""
        r = self.rng
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        cents = r.integers(100, 1_000_000, n)
        n_tags = r.integers(0, MAX_TAGS + 1, n)
        # the first event of each type fills every array slot, so each
        # batch flattens ``tags`` to the same MAX_TAGS columns
        n_tags[0] = MAX_TAGS
        tag_ix = r.integers(0, len(TAG_WORDS), (n, MAX_TAGS))
        created = zip(*(r.integers(lo, hi, n).tolist() for lo, hi in
                        ((1, 13), (1, 29), (0, 24), (0, 60), (0, 60))))
        due = zip(r.integers(1, 13, n).tolist(), r.integers(1, 29, n).tolist())
        counts = r.integers(0, 1000, n).tolist()
        missing = r.random(n) < MISSING_KEY_SHARE
        missing[0] = False
        adds = t.add_field_from is not None and batch >= t.add_field_from
        promo = (r.random(n) < 0.5) & adds
        promo_val = r.integers(5, 50, n).tolist()
        received = r.random(n) < RECEIVED_AT_SHARE
        received_day = r.integers(1, 29, n).tolist()
        quote = t.stringify_count_from is not None and batch >= t.stringify_count_from
        lines = []
        for i, ev_id, user, c, mob, os_i, width, dark, k, tags, cr, dd, cnt, lab in zip(
            range(n), ids, r.integers(0, 50_000, n).tolist(), cents.tolist(),
            (r.random(n) < 0.5).tolist(), r.integers(0, len(OS_NAMES), n).tolist(),
            r.choice(SCREEN_WIDTHS, n).tolist(), (r.random(n) < 0.3).tolist(),
            n_tags.tolist(), tag_ix.tolist(), created, due, counts,
            r.integers(0, 100, n).tolist(),
        ):
            tag_list = ",".join(f'"{TAG_WORDS[w]}"' for w in tags[:k])
            cnt_json = f'"{cnt}"' if quote else str(cnt)
            line = (
                f'{{"eventId":{ev_id},"userId":{user},"amount":{c // 100}.{c % 100:02d},'
                f'"isMobile":{_BOOL[mob]},"deviceInfo":{{"osName":"{OS_NAMES[os_i]}",'
                f'"screenWidth":{width},"darkMode":{_BOOL[dark]}}},"tags":[{tag_list}],'
                f'"createdAt":"2024-{cr[0]:02d}-{cr[1]:02d}T{cr[2]:02d}:{cr[3]:02d}:{cr[4]:02d}",'
                f'"dueDate":"{dd[0]:02d}/{dd[1]:02d}/2025","{t.count_key}":{cnt_json},'
                f'"{t.label_key}":"{t.name}-{lab}"'
            )
            if promo[i]:
                line += f',"promoCode":"SAVE{promo_val[i]}"'
            if received[i]:
                line += f',"__received_at":"2025-01-{received_day[i]:02d}T12:00:00"'
            if not missing[i]:
                line += f',"event_type":"{t.name}"'
            lines.append(line + "}")
        if manifest is not None:
            n_missing = int(missing.sum())
            manifest.events += n
            manifest.missing_routing_key += n_missing
            manifest.rows[t.name] = manifest.rows.get(t.name, 0) + n - n_missing
            manifest.amount_cents[t.name] = (
                manifest.amount_cents.get(t.name, 0) + int(cents[~missing].sum())
            )
        return lines

    def batch_lines(self, batch: int, per_type: int, manifest: Manifest | None) -> list[str]:
        """The JSON lines of one micro-batch, types interleaved; tallies
        the routed events into ``manifest``."""
        lines = [ln for t in self.types for ln in self._type_lines(t, batch, per_type, manifest)]
        return [lines[i] for i in self.rng.permutation(len(lines))]


def stage_backlog(out_dir: Path, seed: int, spec: BacklogSpec) -> tuple[Path, Path, Manifest]:
    """Write the warm-up file and the timed backlog under ``out_dir``.

    Returns (warm-up dir, backlog dir, manifest of the backlog). The
    warm-up batch has the same types but its own events and goes to a
    scratch store, so the manifest covers only the backlog. File
    modification times ascend one second per batch, the order the file
    source reads them in.
    """
    gen = EventGenerator(seed, spec)
    warm_dir, backlog_dir = out_dir / "warmup", out_dir / "backlog"
    warm_dir.mkdir(parents=True)
    backlog_dir.mkdir(parents=True)
    warm = gen.batch_lines(-1, spec.warm_per_type or spec.per_type, None)
    (warm_dir / "batch-warmup.jsonl").write_text("\n".join(warm) + "\n")
    manifest = Manifest()
    mtime = 1_700_000_000
    for b in range(spec.n_batches):
        path = backlog_dir / f"batch-{b:05d}.jsonl"
        path.write_text("\n".join(gen.batch_lines(b, spec.per_type, manifest)) + "\n")
        os.utime(path, (mtime + b, mtime + b))
    manifest.schema = {t.name: t.final_schema() for t in gen.types}
    (out_dir / "manifest.json").write_text(json.dumps(manifest.to_json(), indent=1))
    return warm_dir, backlog_dir, manifest
