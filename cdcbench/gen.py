"""Seeded CDC event generator and the pure-Python model of the sink's result.

Every input the benchmark feeds the sink comes from here: Debezium JSON
envelopes (``schemas.enable=true``, flattened by the unwrap SMT) written as
one JSONL file per micro-batch.  The same seed gives byte-identical files.

The model replays the same events in order and keeps the state the sink
must produce with the default ``EngineConfig``:

- keyed tables keep the last event per key by ``__source_ts_ns`` (every
  event carries a strictly larger timestamp than the one before it), and a
  delete stays as a soft-deleted row (``upsert_keep_deletes=True``);
- keyless tables keep every row;
- a column added by schema evolution is null in rows written before it.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

NAMESPACE = "debeziumevents"
TS_BASE_NS = 1_700_000_000_000_000_000
# one millisecond between events, so __source_ts_ms is distinct as well
TS_STEP_NS = 1_000_000
TS_COLUMNS = ("__source_ts_ms",)

_META_FIELDS = [
    {"field": "__op", "type": "string", "optional": True},
    {"field": "__source_ts_ms", "type": "int64", "optional": True},
    {"field": "__source_ts_ns", "type": "int64", "optional": True},
    {"field": "__deleted", "type": "boolean", "optional": True},
]
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()
_STATUSES = ("NEW", "PAID", "PACKED", "SHIPPED", "RETURNED")


def table_name(destination: str) -> str:
    """The consumer's default destination -> table mapping."""
    return destination.replace(".", "_").replace("-", "_")


@dataclass
class TableSpec:
    destination: str
    keyed: bool
    # (name, connect type) of the payload columns, key first when keyed
    columns: list[tuple[str, str]]
    # schema evolution: one string column x<i> added every `evolve_every`
    # batches (0 = never)
    evolve_every: int = 0

    @property
    def name(self) -> str:
        return table_name(self.destination)

    def columns_at(self, batch: int) -> list[tuple[str, str]]:
        if not self.evolve_every:
            return list(self.columns)
        extra = [(f"x{i}", "string") for i in range(batch // self.evolve_every)]
        return list(self.columns) + extra


class _Envelope:
    """Pre-rendered schema halves of one table's envelopes at one shape."""

    def __init__(self, spec: TableSpec, columns: list[tuple[str, str]]) -> None:
        fields = [
            {"field": n, "type": t, "optional": not (spec.keyed and i == 0)}
            for i, (n, t) in enumerate(columns)
        ] + _META_FIELDS
        self.value_schema = json.dumps(
            {"type": "struct", "fields": fields}, separators=(",", ":")
        )
        self.key_schema = (
            json.dumps(
                {"type": "struct", "fields": fields[:1]}, separators=(",", ":")
            )
            if spec.keyed
            else None
        )
        self.names = [n for n, _ in columns]


@dataclass
class Model:
    """Expected table contents, updated event by event."""

    specs: dict[str, TableSpec]
    # keyed: key -> (row dict, batch index of the last event)
    keyed: dict[str, dict] = field(default_factory=dict)
    # keyless: list of (row dict, batch index)
    rows: dict[str, list] = field(default_factory=dict)

    def apply(self, dest: str, row: dict, batch: int) -> None:
        spec = self.specs[dest]
        if spec.keyed:
            self.keyed.setdefault(dest, {})[row[spec.columns[0][0]]] = (row, batch)
        else:
            self.rows.setdefault(dest, []).append((row, batch))

    def table_rows(self, dest: str, since_batch: int = -1) -> list[dict]:
        """Rows of a table whose last change came after ``since_batch``."""
        spec = self.specs[dest]
        if spec.keyed:
            pairs = self.keyed.get(dest, {}).values()
        else:
            pairs = self.rows.get(dest, [])
        return [r for r, b in pairs if b > since_batch]

    def columns(self, dest: str, batches: int) -> list[str]:
        spec = self.specs[dest]
        names = [n for n, _ in spec.columns_at(batches)]
        return names + [f["field"] for f in _META_FIELDS]


@dataclass
class Inputs:
    """Staged files plus what the model expects after each batch."""

    specs: dict[str, TableSpec]
    snapshot_file: str
    batch_files: list[str]
    batch_events: list[int]
    # events per batch that go to keyed (upsert) tables
    keyed_events: list[int]
    model: Model
    digest: str


class _Writer:
    def __init__(self, specs: dict[str, TableSpec], rng: random.Random) -> None:
        self.specs = specs
        self.rng = rng
        self.seq = 0
        self.model = Model(specs)
        self._env: dict[tuple[str, int], _Envelope] = {}
        self.sha = hashlib.sha256()

    def envelope(self, dest: str, batch: int) -> _Envelope:
        spec = self.specs[dest]
        width = len(spec.columns_at(batch))
        env = self._env.get((dest, width))
        if env is None:
            env = self._env[(dest, width)] = _Envelope(spec, spec.columns_at(batch))
        return env

    def event(self, dest: str, batch: int, op: str, values: dict) -> str:
        env = self.envelope(dest, batch)
        ts_ns = TS_BASE_NS + self.seq * TS_STEP_NS
        self.seq += 1
        payload = {n: values.get(n) for n in env.names}
        payload["__op"] = op
        payload["__source_ts_ms"] = ts_ns // 1_000_000
        payload["__source_ts_ns"] = ts_ns
        payload["__deleted"] = op == "d"
        self.model.apply(dest, payload, batch)
        p = json.dumps(payload, separators=(",", ":"))
        value = '{"schema":' + env.value_schema + ',"payload":' + p + "}"
        if env.key_schema is None:
            key = None
        else:
            k = env.names[0]
            key = (
                '{"schema":' + env.key_schema + ',"payload":'
                + json.dumps({k: payload[k]}, separators=(",", ":")) + "}"
            )
        return json.dumps(
            {"destination": dest, "key": key, "value": value}, separators=(",", ":")
        )

    def write(self, path: str, lines: list[str]) -> None:
        data = ("\n".join(lines) + "\n").encode()
        self.sha.update(data)
        with open(path, "wb") as fh:
            fh.write(data)

    def note(self) -> str:
        words = self.rng.choices(_WORDS, k=self.rng.randint(2, 6))
        return " ".join(words)


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return [x / acc for x in out]


# --------------------------------------------------------------- workloads

HOT_DEST = "dbserver1.inventory.orders"
ORDER_COLUMNS = [
    ("id", "int32"),
    ("status", "string"),
    ("qty", "int64"),
    ("price_cents", "int64"),
    ("note", "string"),
]


# the reference's max.batch.size default
HOT_BATCH_EVENTS = 2048
HOT_KEYS = 8192
HOT_ZIPF_S = 1.1


def hot_table_inputs(seed: int, out_dir: str, n_batches: int) -> Inputs:
    """One keyed table: an ``op=r`` snapshot of ``HOT_KEYS`` rows, then
    ``n_batches`` batches of ``HOT_BATCH_EVENTS`` updates (88%), deletes
    (8%) and inserts of new keys (4%).  Update and delete keys are
    Zipf-skewed over a seeded permutation of the key space, so hot keys
    repeat inside a batch and dedup has work to do."""
    rng = random.Random(seed)
    spec = TableSpec(HOT_DEST, True, ORDER_COLUMNS)
    w = _Writer({HOT_DEST: spec}, rng)
    os.makedirs(out_dir, exist_ok=True)

    def row(k: int) -> dict:
        return {
            "id": k,
            "status": rng.choice(_STATUSES),
            "qty": rng.randint(1, 50),
            "price_cents": rng.randint(100, 100_000),
            "note": w.note(),
        }

    snap = [w.event(HOT_DEST, 0, "r", row(k)) for k in range(HOT_KEYS)]
    snapshot_file = os.path.join(out_dir, "b00000.jsonl")
    w.write(snapshot_file, snap)

    perm = list(range(HOT_KEYS))
    rng.shuffle(perm)
    cdf = _zipf_cdf(HOT_KEYS, HOT_ZIPF_S)
    next_key = HOT_KEYS
    files, counts = [], []
    for b in range(1, n_batches + 1):
        lines = []
        for _ in range(HOT_BATCH_EVENTS):
            u = rng.random()
            if u < 0.04:
                k, op = next_key, "c"
                next_key += 1
            else:
                k = perm[bisect.bisect_left(cdf, rng.random())]
                op = "d" if u < 0.12 else "u"
            lines.append(w.event(HOT_DEST, b, op, row(k)))
        path = os.path.join(out_dir, f"b{b:05d}.jsonl")
        w.write(path, lines)
        files.append(path)
        counts.append(len(lines))
    return Inputs(
        {HOT_DEST: spec}, snapshot_file, files, counts, list(counts), w.model,
        w.sha.hexdigest(),
    )


FANOUT_TABLES = 3
FANOUT_KEYS = 512
FANOUT_BATCH_EVENTS = 512
FANOUT_SNAPSHOT_ROWS = 16
FANOUT_EVOLVE_EVERY = 3


def fanout_specs() -> list[TableSpec]:
    """Tables in popularity order: even ranks keyed (upsert), odd ranks
    keyless (append).  Rank 2 gains a string column every
    ``FANOUT_EVOLVE_EVERY`` batches."""
    specs = []
    for i in range(FANOUT_TABLES):
        dest = f"dbserver1.shop.t{i}"
        if i % 2 == 0:
            cols = [("id", "int32"), ("status", "string"), ("qty", "int64")]
        else:
            cols = [("seq", "int64"), ("action", "string"), ("qty", "int64")]
        specs.append(
            TableSpec(dest, i % 2 == 0, cols, FANOUT_EVOLVE_EVERY if i == 2 else 0)
        )
    return specs


def fanout_inputs(seed: int, out_dir: str, n_batches: int) -> Inputs:
    """``FANOUT_BATCH_EVENTS`` events per batch spread over
    ``FANOUT_TABLES`` tables with Zipf(1) popularity.  Keyed tables take
    uniform-key updates (90%) and deletes (10%) over a snapshot of
    ``FANOUT_KEYS`` rows; keyless tables take inserts.  The snapshot file
    creates every table, with ``FANOUT_KEYS`` rows per keyed table and
    ``FANOUT_SNAPSHOT_ROWS`` per keyless one."""
    rng = random.Random(seed)
    specs = fanout_specs()
    by_dest = {s.destination: s for s in specs}
    w = _Writer(by_dest, rng)
    os.makedirs(out_dir, exist_ok=True)
    seqs = {s.destination: 0 for s in specs}

    def row(spec: TableSpec, batch: int, k: int | None) -> dict:
        if spec.keyed:
            vals = {"id": k, "status": rng.choice(_STATUSES), "qty": rng.randint(1, 50)}
        else:
            seqs[spec.destination] += 1
            vals = {
                "seq": seqs[spec.destination],
                "action": rng.choice(_WORDS),
                "qty": rng.randint(1, 50),
            }
        for name, _ in spec.columns_at(batch)[len(spec.columns):]:
            vals[name] = f"{name}-{rng.randint(0, 9)}"
        return vals

    snap = []
    for spec in specs:
        if spec.keyed:
            snap += [w.event(spec.destination, 0, "r", row(spec, 0, k)) for k in range(FANOUT_KEYS)]
        else:
            snap += [
                w.event(spec.destination, 0, "c", row(spec, 0, None))
                for _ in range(FANOUT_SNAPSHOT_ROWS)
            ]
    snapshot_file = os.path.join(out_dir, "snapshot.jsonl")
    w.write(snapshot_file, snap)

    cum = [sum(1.0 / (r + 1) for r in range(i + 1)) for i in range(FANOUT_TABLES)]
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    files, counts, keyed = [], [], []
    for b in range(1, n_batches + 1):
        lines = []
        picks = rng.choices(specs, cum_weights=cum, k=FANOUT_BATCH_EVENTS)
        keyed.append(sum(1 for s in picks if s.keyed))
        for spec in picks:
            if spec.keyed:
                op = "d" if rng.random() < 0.1 else "u"
                k = rng.randrange(FANOUT_KEYS)
                lines.append(w.event(spec.destination, b, op, row(spec, b, k)))
            else:
                lines.append(w.event(spec.destination, b, "c", row(spec, b, None)))
        path = os.path.join(stream_dir, f"b{b:05d}.jsonl")
        w.write(path, lines)
        files.append(path)
        counts.append(len(lines))
    return Inputs(
        by_dest, snapshot_file, files, counts, keyed, w.model, w.sha.hexdigest(),
    )


# ---------------------------------------------------------- curation corpus

CORPUS_DOCS = 500
CORPUS_VECTORS = 500
CORPUS_DIM = 64
# share of documents (vectors) that copy an earlier one with a small edit,
# so the near-duplicate gates find pairs
CORPUS_DUP_SHARE = 0.05
_LANGS = ("en", "en", "fr", "es", "zh", "de")


def corpus_inputs(seed: int, out_dir: str) -> str:
    """A seeded corpus for the curation gates, as the ``documents`` and
    ``embeddings`` parquet tables the training-data gates of ``queries()``
    read: ``CORPUS_DOCS`` documents of 10-99 words from ``_WORDS``, some
    near-copies of an earlier document (one word changed, ``dup``
    appended), and ``CORPUS_VECTORS`` unit embeddings, some a noisy copy
    of an earlier one.  Returns a digest of the tables' contents."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        if texts and rng.random() < CORPUS_DUP_SHARE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(_WORDS)
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choices(_WORDS, k=rng.randint(10, 99))))
    docs = pa.table(
        {
            "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in texts],
            "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    vecs = nrng.standard_normal((CORPUS_VECTORS, CORPUS_DIM))
    for i in range(1, CORPUS_VECTORS):
        if nrng.random() < CORPUS_DUP_SHARE:
            vecs[i] = vecs[nrng.integers(i)] + 0.5 * nrng.standard_normal(CORPUS_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(CORPUS_VECTORS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, CORPUS_VECTORS), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    sha = hashlib.sha256()
    for name, table in (("documents", docs), ("embeddings", emb)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        for col in table.columns:
            sha.update(repr(col.to_pylist()).encode())
    return sha.hexdigest()
