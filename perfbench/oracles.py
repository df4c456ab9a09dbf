"""Exactly-once oracles, computed from the generators' inputs alone.

Each check compares what the pipeline committed (read back with pyarrow or the
fake broker, never through the program under test) against an expectation
derived only from the seeded inputs. A check fails on any lost, duplicated or
unexpected record.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Check:
    name: str
    ok: bool
    detail: dict = field(default_factory=dict)


def exactly_once(name: str, actual: list, expected: list) -> Check:
    """Multiset equality: every expected item exactly once, nothing else."""
    got, want = Counter(actual), Counter(expected)
    duplicated = [k for k, c in got.items() if c > 1]
    missing = [k for k in want if k not in got]
    unexpected = [k for k in got if k not in want]
    ok = not duplicated and not missing and not unexpected and got == want
    return Check(
        name,
        ok,
        {
            "expected": len(expected),
            "actual": len(actual),
            "duplicated": len(duplicated),
            "missing": len(missing),
            "unexpected": len(unexpected),
            "examples": [str(x) for x in (duplicated + missing + unexpected)[:3]],
        },
    )


# ---------------------------------------------------------------------------
# objstore_tail
# ---------------------------------------------------------------------------

def check_objects(epoch_lines: dict[int, list[str]], expected: dict[int, list[str]]) -> list[Check]:
    """``epoch_lines``: committed epoch -> lines; ``expected``: object number
    -> its lines. Every object's lines exactly once, each epoch holding one
    whole object, and objects consumed in key order."""
    actual = [ln for e in sorted(epoch_lines) for ln in epoch_lines[e]]
    want = [ln for n in sorted(expected) for ln in expected[n]]
    checks = [exactly_once("objstore.lines", actual, want)]
    order = []
    whole = True
    for e in sorted(epoch_lines):
        objs = {int(ln[3:10]) for ln in epoch_lines[e]}
        if len(objs) != 1 or sorted(epoch_lines[e]) != sorted(expected.get(min(objs), [])):
            whole = False
        order.extend(sorted(objs))
    in_order = order == sorted(order) and len(order) == len(set(order))
    checks.append(Check("objstore.order", whole and in_order, {"epochs": len(epoch_lines)}))
    return checks


# ---------------------------------------------------------------------------
# jdbc_kafka_backfill
# ---------------------------------------------------------------------------

def users_expected(rows: list[tuple], from_ts: datetime) -> list[tuple]:
    """Rows a ``(from, ...]`` window walk ingests: the reference's ``from``
    bound is exclusive, so a row at exactly ``from_ts`` is never read."""
    return [r for r in rows if r[3] > from_ts]


def avro_record(row: tuple) -> dict:
    """The value record the benchmark encodes for a users row."""
    ts = row[3].replace(tzinfo=timezone.utc)
    return {
        "id": row[0],
        "name": row[1],
        "description": row[2],
        "modified_at": int(ts.timestamp() * 1000),
    }


def check_kafka(
    records: list[tuple[bytes, bytes]],
    rows: list[tuple],
    from_ts: datetime,
    codec,
    seed: int,
    sample: int = 200,
) -> list[Check]:
    """Committed (key, value) records against the users rows: every id once,
    and a seeded sample of values decoding (``codec.decode``) to their row."""
    want = users_expected(rows, from_ts)
    checks = [exactly_once("kafka.keys", [k.decode("utf-8") for k, _ in records], [r[0] for r in want])]
    by_id = {r[0]: r for r in want}
    rng = random.Random(f"{seed}-sample")
    picked = rng.sample(records, min(sample, len(records)))
    bad = [
        k.decode("utf-8")
        for k, v in picked
        if k.decode("utf-8") not in by_id or codec.decode(v) != avro_record(by_id[k.decode("utf-8")])
    ]
    checks.append(Check("kafka.values", not bad and bool(picked), {"sampled": len(picked), "bad": bad[:3]}))
    return checks


# ---------------------------------------------------------------------------
# rest_dedup_epochs
# ---------------------------------------------------------------------------

def dedup_expected(pages: list[list[dict]]) -> list[tuple[int, str]]:
    """pandas exact dedup of the served stream: per text, the min doc_id."""
    import pandas as pd

    served = pd.DataFrame([d for page in pages for d in page], columns=["doc_id", "text"])
    kept = served.loc[served.groupby("text")["doc_id"].idxmin()]
    return list(zip(kept["doc_id"].tolist(), kept["text"].tolist()))


def check_curated(curated: list[tuple[int, str]], pages: list[list[dict]]) -> Check:
    return exactly_once("rest.curated", curated, dedup_expected(pages))
