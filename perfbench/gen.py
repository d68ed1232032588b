"""Seeded wire-event generator and the pure-Python latest-state oracle.

Everything the benchmark feeds the engine comes from here, from one
``random.Random(seed)``: the same seed gives byte-identical inbox files.
The engine sees only the JSON-lines wire envelopes (the Kafka record
shape ``{opIndex, type, bucket, key, value}`` with a double-encoded
``value`` document) and HTTP requests.

Store shape (fixed so every workload reads the same kind of store):

* uneven buckets: one large bucket holding most keys, several small ones;
* Zipf-skewed overwrites, so a key has 2-3 versions on average;
* about 10% of operations on an existing key are delete tombstones;
* a share of version keys (``<key>\\x00<version>``) that the default
  listing must drop;
* a small share of malformed envelopes (no ``type`` or no ``opIndex``)
  that the ingest filter must drop and count in ``ingest_drops``.

The oracle replays the same events in Python (highest opIndex wins per
key, tombstones hide the key, version keys never list) and answers every
page of the request mix, so each HTTP page can be checked exactly.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field

VERSION_KEY_CHAR = "\x00"

#: colors for the selective ``userMd`` equality; the first is rare
COLORS = ["teal"] + [f"c{i:02d}" for i in range(24)]
#: weights: "teal" is ~1% of objects, the rest share the remainder
COLOR_WEIGHTS = [1.0] + [99.0 / 24] * 24
STORAGE_CLASSES = ["STANDARD", "STANDARD_IA", "GLACIER"]
PREFIXES = [f"dir{i}" for i in range(8)]


@dataclass(frozen=True)
class Predicate:
    """One search predicate of the request mix: the SQL WHERE string the
    server receives and the Python test the oracle applies to a doc."""

    name: str
    where: str

    def matches(self, key: str, doc: dict) -> bool:
        if self.name == "usermd_eq":
            return doc.get("x-amz-meta-color") == "teal"
        if self.name == "length_range":
            return 20_000 <= doc["content-length"] < 60_000
        if self.name == "prefix_like":
            return key.startswith("dir3/")
        if self.name == "list_all":
            return True
        raise ValueError(self.name)


#: the fixed request mix: a selective userMd equality, a content-length
#: range, a key-prefix LIKE and the empty "list everything" predicate
MIX = (
    Predicate("usermd_eq", "userMd.`x-amz-meta-color` = 'teal'"),
    Predicate("length_range", "`content-length` >= 20000 AND `content-length` < 60000"),
    Predicate("prefix_like", "key LIKE 'dir3/%'"),
    Predicate("list_all", ""),
)


@dataclass
class Shape:
    """Sizes of one generated store."""

    buckets: tuple[tuple[str, int], ...]  # (name, live-key target)
    versions_per_key: float = 2.5
    delete_share: float = 0.10
    version_key_share: float = 0.05
    malformed_share: float = 0.005
    files: int = 64


def default_shape(scale: float = 1.0) -> Shape:
    big = max(40, int(6_000 * scale))
    small = max(10, int(600 * scale))
    return Shape(
        buckets=(("large", big), ("small1", small), ("small2", small)),
    )


def _op_index(n: int) -> str:
    return f"{n:012d}"


def _doc(rng: random.Random, bucket: str, key: str, ver: int) -> dict:
    color = rng.choices(COLORS, COLOR_WEIGHTS)[0]
    return {
        "bucket": bucket,
        "key": key,
        "content-length": rng.randrange(0, 100_000),
        "content-md5": f"{rng.getrandbits(128):032x}",
        "content-type": "application/octet-stream",
        "last-modified": f"2026-01-{1 + ver % 28:02d}T00:00:{ver % 60:02d}.000Z",
        "owner-id": f"owner{rng.randrange(4)}",
        "owner-display-name": "bench",
        "x-amz-storage-class": rng.choice(STORAGE_CLASSES),
        "md-model-version": 3,
        "x-amz-meta-color": color,
        "x-amz-meta-env": rng.choice(("prod", "dev")),
    }


def wire_line(op: int, typ: str, bucket: str, key: str, doc: dict) -> str:
    return json.dumps(
        {
            "opIndex": _op_index(op),
            "type": typ,
            "bucket": bucket,
            "key": key,
            "value": json.dumps(doc),
        }
    )


@dataclass
class Oracle:
    """Latest state per (bucket, key): ``(opIndex, type, doc)``."""

    state: dict[str, dict[str, tuple[int, str, dict]]] = field(default_factory=dict)
    malformed: int = 0
    _sorted: dict[str, list[str]] = field(default_factory=dict, repr=False)

    def apply(self, op: int, typ: str, bucket: str, key: str, doc: dict) -> None:
        cur = self.state.setdefault(bucket, {}).get(key)
        if cur is None or cur[0] < op:
            self.state[bucket][key] = (op, typ, doc)
        self._sorted.pop(bucket, None)

    def visible(self, bucket: str) -> list[str]:
        """Sorted keys a default listing of ``bucket`` shows."""
        keys = self._sorted.get(bucket)
        if keys is None:
            keys = sorted(
                k
                for k, (_, typ, _doc) in self.state.get(bucket, {}).items()
                if typ != "delete" and VERSION_KEY_CHAR not in k
            )
            self._sorted[bucket] = keys
        return keys

    def live_keys(self) -> int:
        return sum(len(self.visible(b)) for b in self.state)

    def page(
        self, bucket: str, pred: Predicate, start_after: str | None, limit: int
    ) -> tuple[list[tuple[str, int]], bool]:
        """Expected ``([(key, size), ...], is_truncated)`` for one page."""
        keys = self.visible(bucket)
        i = 0 if start_after is None else bisect.bisect_right(keys, start_after)
        out: list[tuple[str, int]] = []
        state = self.state[bucket] if bucket in self.state else {}
        while i < len(keys):
            k = keys[i]
            doc = state[k][2]
            if pred.matches(k, doc):
                if len(out) == limit:
                    return out, True
                out.append((k, doc["content-length"]))
            i += 1
        return out, False


class EventSource:
    """Deterministic event stream: the initial store, then an endless
    tail of live batches, all from one seed."""

    def __init__(self, seed: int, shape: Shape):
        self.rng = random.Random(seed)
        self.shape = shape
        self.oracle = Oracle()
        self.next_op = 1
        self._live_seq = 0
        self._live_keys: list[str] = []

    def _emit(self, typ: str, bucket: str, key: str, doc: dict) -> str:
        op = self.next_op
        self.next_op += 1
        self.oracle.apply(op, typ, bucket, key, doc)
        return wire_line(op, typ, bucket, key, doc)

    def _malformed(self, bucket: str) -> str:
        """An envelope missing ``type`` or ``opIndex``: the two cases the
        ingest filter drops and counts in the ``ingest_drops`` observation."""
        self.oracle.malformed += 1
        key = f"bad/{self.rng.getrandbits(32):08x}"
        env = {"opIndex": _op_index(self.next_op), "type": "put",
               "bucket": bucket, "key": key, "value": json.dumps({"key": key})}
        del env["type" if self.rng.random() < 0.5 else "opIndex"]
        return json.dumps(env)

    def initial(self) -> list[list[str]]:
        """The initial store as ``shape.files`` lists of wire lines."""
        rng, shape = self.rng, self.shape
        queues: dict[str, list[str]] = {}
        for bucket, n_keys in shape.buckets:
            keys = []
            for i in range(n_keys):
                key = f"{rng.choice(PREFIXES)}/obj{i:07d}"
                if rng.random() < shape.version_key_share:
                    key += f"{VERSION_KEY_CHAR}v{rng.getrandbits(24):06x}"
                keys.append(key)
            rng.shuffle(keys)
            # first PUT of every key, then Zipf-skewed overwrites
            extra = int(n_keys * (shape.versions_per_key - 1))
            weights = [1.0 / (r + 1) ** 0.8 for r in range(n_keys)]
            queues[bucket] = keys + rng.choices(keys, weights, k=extra)
        # one shared log: buckets interleave in opIndex order, so every
        # bucket spans every maxOpIndex subpartition
        order = [b for b, q in queues.items() for _ in q]
        rng.shuffle(order)
        pos = dict.fromkeys(queues, 0)
        seen: set[tuple[str, str]] = set()
        lines: list[str] = []
        for bucket in order:
            key = queues[bucket][pos[bucket]]
            pos[bucket] += 1
            if rng.random() < shape.malformed_share:
                lines.append(self._malformed(bucket))
            if (bucket, key) in seen and rng.random() < shape.delete_share:
                lines.append(self._emit("delete", bucket, key, {"bucket": bucket, "key": key}))
            else:
                lines.append(self._emit("put", bucket, key, _doc(rng, bucket, key, self.next_op)))
            seen.add((bucket, key))
        per_file = -(-len(lines) // shape.files)
        return [lines[i : i + per_file] for i in range(0, len(lines), per_file)]

    def live_batch(self, bucket: str, n: int) -> tuple[list[str], str]:
        """One live batch of ``n`` events into ``bucket``: new keys,
        overwrites and deletes of earlier live keys, and one sentinel
        PUT whose key the availability prober searches for."""
        rng = self.rng
        lines = []
        for _ in range(n - 1):
            if self._live_keys and rng.random() < 0.4:
                key = rng.choice(self._live_keys)
                if rng.random() < 0.25:
                    lines.append(self._emit("delete", bucket, key, {"bucket": bucket, "key": key}))
                    continue
            else:
                key = f"{rng.choice(PREFIXES)}/live{len(self._live_keys):07d}"
                self._live_keys.append(key)
            lines.append(self._emit("put", bucket, key, _doc(rng, bucket, key, self.next_op)))
        sentinel = f"sentinel/{self._live_seq:06d}"
        self._live_seq += 1
        lines.append(self._emit("put", bucket, sentinel, _doc(rng, bucket, sentinel, self.next_op)))
        return lines, sentinel
