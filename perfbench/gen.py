"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random`` built from the run's seed and
writes only where it is told, so the same seed yields byte-identical
inputs.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query filter "
    "big group order stream vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
T0 = 1_700_000_000  # 2023-11-14, the first generated event day


@dataclass
class Expected:
    """What a load must land, per table: the generated ``uid``s (each
    record has its own) and the top-level data fields the merged schema
    must hold."""

    uids: dict[str, list[int]] = field(default_factory=dict)
    fields: dict[str, set[str]] = field(default_factory=dict)

    def add(self, table: str, rec: dict) -> None:
        self.uids.setdefault(table, []).append(rec["uid"])
        self.fields.setdefault(table, set()).update(
            k for k, v in rec.items() if v is not None and v != []
        )

    def rows_total(self) -> int:
        return sum(len(u) for u in self.uids.values())

    def merge(self, other: "Expected") -> None:
        for t, u in other.uids.items():
            self.uids.setdefault(t, []).extend(u)
        for t, f in other.fields.items():
            self.fields.setdefault(t, set()).update(f)


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def log_record(rng: random.Random, uid: int, kind: str) -> dict:
    """One application-log event of one day."""
    return {
        "kind": kind,
        "uid": uid,
        "ts": T0 + rng.randrange(86400),
        "host": f"h{rng.randrange(64):02d}",
        "level": rng.choice(("INFO", "INFO", "INFO", "WARN", "ERROR")),
        "msg": _text(rng, 8, 40),
        "latency_ms": round(rng.expovariate(1 / 40), 3),
        "http": {"status": rng.choice((200, 200, 200, 404, 500)), "bytes": rng.randrange(1 << 20)},
        "tags": [rng.choice(WORDS) for _ in range(rng.randint(0, 3))],
    }


def log_object(rng: random.Random, path: str, n: int, kinds: list[str], uid0: int) -> Expected:
    """One NDJSON object of ``n`` log records spread over ``kinds`` (one
    table per kind)."""
    exp = Expected()
    with open(path, "w", encoding="utf-8") as f:
        for uid in range(uid0, uid0 + n):
            rec = log_record(rng, uid, rng.choice(kinds))
            exp.add(rec["kind"], rec)
            f.write(json.dumps(rec, separators=(",", ":")))
            f.write("\n")
    return exp


def documents(rng: random.Random, sf_dir: str, n_docs: int) -> None:
    """A ``documents`` parquet table shaped like the registry's testdata:
    10-100 word texts over a 30-word vocabulary with planted near and
    exact duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:
            ws = texts[rng.randrange(len(texts))].split(" ")
            ws[rng.randrange(len(ws))] = "dup"
            texts.append(" ".join(ws))
        elif i > 10 and r < 0.05:
            texts.append(texts[rng.randrange(len(texts))])
        else:
            texts.append(_text(rng, 10, 100))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
