"""Seeded input generators for the benchmark workloads.

Inputs are built with numpy and pyarrow only, before any JVM starts, so
generating them never warms the session that is then measured, and the
numbers the output checks need come from the generator, not from the
engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US = 1_000_000

# the registry fixtures' technical vocabulary: random word salad from 30
# words, so n-gram near-duplicates exist only where they are planted
_DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _write(table: pa.Table, path: str, n_files: int = 1) -> dict:
    """Write ``table`` as ``n_files`` parquet files under ``path`` (a
    directory when n_files > 1) and return its rows and bytes on disk."""
    if n_files == 1:
        pq.write_table(table, path)
        size = os.path.getsize(path)
    else:
        os.makedirs(path, exist_ok=True)
        size = 0
        bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            f = os.path.join(path, f"part-{i:03d}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
            size += os.path.getsize(f)
    return {"rows": table.num_rows, "bytes": size}


class HotCorpus:
    """Seeded documents table with planted duplication, in the registry's
    ``documents`` shape (doc_id, text, lang, source, n_chars):

    - one viral text copied byte-identically ``viral`` times, sized so
      ``duplicate_collapse='auto'`` picks the collapsed pair plans;
    - ``groups`` exact-duplicate groups of ``group_size`` copies, one of
      them upper-cased (a duplicate only after normalization), enough of
      them that the posting-join family collapses too;
    - ``near_pairs`` near-duplicates: a text and a copy with " dup"
      appended (3-gram Jaccard >= 0.96);
    - singletons for the rest.

    Texts are 30-60 random words from a 30-word vocabulary, so unplanted
    pairs share almost no 3-grams. Doc ids are a seeded permutation, so
    the planted members spread over ids, parity and partitions.
    """

    def __init__(self, seed: int, n_docs: int = 1000, viral: int = 700,
                 groups: int = 6, group_size: int = 30, near_pairs: int = 20):
        rng = np.random.default_rng([seed, 13])
        seen: set[str] = set()

        def fresh() -> str:
            while True:
                words = rng.integers(0, len(_DOC_VOCAB), int(rng.integers(30, 61)))
                t = " ".join(_DOC_VOCAB[w] for w in words)
                if t not in seen:
                    seen.add(t)
                    return t

        texts: list[str] = []
        self.clusters: list[list[int]] = []  # exact duplicates after normalization
        self.near: list[tuple[int, int]] = []

        def add(ts: list[str]) -> list[int]:
            texts.extend(ts)
            return list(range(len(texts) - len(ts), len(texts)))

        self.clusters.append(add([fresh()] * viral))
        for _ in range(groups):
            t = fresh()
            self.clusters.append(add([t] * (group_size - 1) + [t.upper()]))
        for _ in range(near_pairs):
            t = fresh()
            a, b = add([t, t + " dup"])
            self.near.append((a, b))
        add([fresh() for _ in range(n_docs - len(texts))])
        self.ids = rng.permutation(n_docs).astype(np.int64)
        self.texts = texts
        langs = ["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14
        self.lang = [langs[i] for i in rng.integers(0, len(langs), n_docs)]
        self.source = [f"src{i % 20}" for i in range(n_docs)]

    @property
    def rows(self) -> int:
        return len(self.texts)

    def write(self, sf_dir: str) -> dict:
        os.makedirs(sf_dir, exist_ok=True)
        order = np.argsort(self.ids)
        table = pa.table({
            "doc_id": self.ids[order],
            "text": [self.texts[i] for i in order],
            "lang": [self.lang[i] for i in order],
            "source": [self.source[i] for i in order],
            "n_chars": np.array([len(self.texts[i]) for i in order], dtype=np.int64),
        })
        return _write(table, os.path.join(sf_dir, "documents.parquet"))

    def expected(self) -> dict[str, list[tuple]]:
        """The exact output rows of the dedup queries a pass runs."""
        ids = self.ids
        comp = {int(i): int(i) for i in ids}  # doc id -> component min id
        members: list[list[int]] = [[int(ids[p]) for p in c] for c in self.clusters]
        members += [[int(ids[a]), int(ids[b])] for a, b in self.near]
        for m in members:
            lo = min(m)
            for d in m:
                comp[d] = lo
        keep = sorted(comp[d] for d in comp if comp[d] == d)
        exact_rep = {int(i): int(i) for i in ids}
        for c in self.clusters:
            lo = int(ids[c].min())
            for p in c:
                exact_rep[int(ids[p])] = lo
        return {
            "dedup_exact_keep": [(d,) for d in sorted(set(exact_rep.values()))],
            "dedup_groups": sorted(comp.items()),
            "dedup_canonical": [(d,) for d in keep],
        }


class Telemetry:
    """Seeded raw telemetry in the 11-column bronze shape (all strings):
    ``n_devices`` trucks on one day, one row every 0.5 s, so each device
    is one device-date partition. ``load_weight`` is integer-valued
    piecewise-constant load plus integer noise, so a 5 s bucket mean is
    the same double in Spark and numpy whatever the summation order, and
    the expected change points can be computed here exactly."""

    START_S = 1753833600  # 2025-07-30 00:00:00 UTC, a multiple of 5 s
    STEP_US = 500_000
    BUCKET_US = 5 * _US
    N_FILES = 8

    def __init__(self, seed: int, n_devices: int, rows_per_device: int):
        self.n_devices = n_devices
        self.rows_per_device = rows_per_device
        rng = np.random.default_rng([seed, 7])
        n = n_devices * rows_per_device
        self.device = np.repeat(np.arange(n_devices), rows_per_device)
        seq = np.tile(np.arange(rows_per_device), n_devices)
        self.ts_us = self.START_S * _US + seq * self.STEP_US
        load = np.empty(n, dtype=np.int64)
        for d in range(n_devices):
            lo = d * rows_per_device
            pos = 0
            while pos < rows_per_device:
                seg = int(rng.integers(90, 181))
                load[lo + pos: lo + pos + seg] = rng.integers(0, 60000)
                pos += seg
        self.load_weight = load + rng.integers(-300, 301, n)
        self.rng = rng

    @property
    def rows(self) -> int:
        return self.n_devices * self.rows_per_device

    def write_bronze(self, path: str) -> dict:
        rng, n = self.rng, self.rows
        stamps = np.datetime_as_string(self.ts_us.astype("datetime64[us]"), unit="us")
        lat = 33.2404 + rng.random(n) * 0.036
        lon = -97.8407 + rng.random(n) * 0.0144
        alt = rng.random(n) * 300.0

        def pick(values: list, k: int = n) -> list:
            return [values[i] for i in rng.integers(0, len(values), k)]

        table = pa.table({
            "timestamp": [s.replace("T", " ") for s in stamps],
            "device_id": [f"truck-775g-{d}" for d in self.device],
            "system_engaged": pick(["t", "f"]),
            "parking_brake_applied": pick(["true", "false"]),
            "current_position": [
                f"{{{a:.7f},{b:.7f},{c:.2f}}}" for a, b, c in zip(lat, lon, alt)
            ],
            "current_speed": [f"{v:.4f}" for v in rng.random(n) * 55.0],
            "load_weight": [str(v) for v in self.load_weight],
            "state": pick(["idle", "loadToDump", "dumping", "TRUCK_JUNK_STATE", None]),
            "software_state": pick(["start", "stop", "fault", "dump"]),
            "prndl": pick(["park", "drive", "reverse", "n"]),
            "extras": [f'{{"fw":{k}}}' for k in rng.integers(0, 9, n)],
        })
        return _write(table, path, self.N_FILES)

    def downsampled_groups(self) -> list[np.ndarray]:
        """Per device, the 5 s tumbling mean of load_weight in bucket
        order: what the CPD stage feeds to PELT."""
        groups = []
        for d in range(self.n_devices):
            sl = slice(d * self.rows_per_device, (d + 1) * self.rows_per_device)
            bucket = self.ts_us[sl] // self.BUCKET_US
            starts = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
            sums = np.add.reduceat(self.load_weight[sl].astype(np.float64), starts)
            counts = np.diff(np.r_[starts, bucket.size])
            groups.append(sums / counts)
        return groups
