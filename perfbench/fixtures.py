"""Seeded input generators for the three workloads.

Every input is a pure function of the seed given on the command line, so one
seed gives the same objects, rows and pages on every run. The generators know
their inputs, which is what lets the oracles (oracles.py) compute the expected
output without running the program under test.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

_WORDS = (
    "ingest epoch cursor state commit window replay broker partition record "
    "schema offset stream batch source sink bucket object page token ledger "
    "river stone cloud maple amber north delta harbor signal copper lantern "
    "orbit meadow quartz velvet cinder thistle saffron willow ember falcon"
).split()


def sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


# ---------------------------------------------------------------------------
# objstore_tail: number-keyed line objects written on a fixed schedule
# ---------------------------------------------------------------------------

def object_lines(seed: int, n: int, lines: int) -> list[str]:
    """Content of object ``n``: ``lines`` lines, each naming its object."""
    rng = random.Random(f"{seed}-obj-{n}")
    return [f"obj{n:07d}-{i:03d} {sentence(rng, 6)}" for i in range(lines)]


@dataclass
class ObjectWriter:
    """Open-loop generator: writes ``myPrefix{n}`` objects (the reference's
    ``S3Generalized`` fixture) into a local bucket at a fixed rate.

    Object ``n`` (counting from ``first``) is due at
    ``t0 + (n - first) / rate`` whatever the pipeline is doing; each object is
    staged and renamed into place so a listing never sees a partial object.
    ``due`` and ``written`` hold the scheduled and actual times per object.
    """

    bucket: str
    prefix: str
    seed: int
    rate: float
    lines: int
    first: int
    until: float  # perf_counter deadline: no object is due at or after it
    due: dict[int, float] = field(default_factory=dict)
    written: dict[int, float] = field(default_factory=dict)

    def __post_init__(self):
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.last = self.first - 1
        self.error: BaseException | None = None

    def write_object(self, n: int) -> None:
        staging = os.path.join(self.bucket, ".staging")
        os.makedirs(staging, exist_ok=True)
        tmp = os.path.join(staging, str(n))
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(object_lines(self.seed, n, self.lines)) + "\n")
        os.replace(tmp, os.path.join(self.bucket, f"{self.prefix}{n}"))

    def start(self, t0: float) -> None:
        self.t0 = t0
        self._thread = threading.Thread(target=self._run, name="object-writer", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            n = self.first
            while not self._stop.is_set():
                due = self.t0 + (n - self.first) / self.rate
                if due >= self.until:
                    return
                delay = due - time.perf_counter()
                if delay > 0 and self._stop.wait(delay):
                    return
                self.write_object(n)
                self.due[n] = due
                self.written[n] = time.perf_counter()
                self.last = n
                n += 1
        except BaseException as e:  # reported by the workload, never swallowed
            self.error = e

    def done(self) -> bool:
        return self._thread is not None and not self._thread.is_alive()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# jdbc_kafka_backfill: the `users` table (FIXTURES.md §1)
# ---------------------------------------------------------------------------

USERS_START = datetime(2020, 1, 1, 0, 0, 0)
USERS_END = datetime(2020, 11, 30, 16, 53, 47)
_NAMES = ["Zoë", "José", "Ångström", "Łukasz", "Chloé", "Søren", "Nuño", "Ιωάννα", "Мария", "李雷", "さくら", "Kai"]


def users_rows(seed: int, n: int) -> list[tuple]:
    """(id, name, description, modified_at) rows: 32-hex ids, unicode names,
    mostly-null descriptions and whole-second timestamps spanning 2020.

    The first row sits exactly on the window start, which the source's
    exclusive ``from`` bound must skip."""
    rng = random.Random(f"{seed}-users")
    span = int((USERS_END - USERS_START).total_seconds())
    rows = []
    for i in range(n):
        ts = USERS_START if i == 0 else USERS_START + timedelta(seconds=rng.randrange(1, span + 1))
        desc = None if rng.random() < 0.8 else sentence(rng, rng.randrange(3, 12))
        name = f"{rng.choice(_NAMES)} {rng.choice(_WORDS).title()} {i}"
        rows.append(("%032x" % rng.getrandbits(128), name, desc, ts))
    return rows


def load_users(spark, url: str, table: str, rows: list[tuple], driver: str) -> None:
    """Create and fill the table through Spark's JDBC writer, so Derby holds
    Spark-created (quoted, lower-case) column names."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["id", "name", "description", "modified_at"])
    df = spark.createDataFrame(pdf, "id string, name string, description string, modified_at timestamp")
    (
        df.write.mode("overwrite")
        .option("driver", driver)
        .option("batchsize", "5000")
        .jdbc(url, table)
    )


# ---------------------------------------------------------------------------
# rest_dedup_epochs: JSON pages of documents with re-served texts
# ---------------------------------------------------------------------------

def document_pages(
    seed: int, round_no: int, pages: int, page_size: int, dup_page_share: float, dup_doc_share: float
) -> list[list[dict]]:
    """Pages of ``{"doc_id", "text"}`` documents with ids increasing across
    pages. A seeded ``dup_page_share`` of pages (never the first) re-serve,
    for a seeded ``dup_doc_share`` of their slots, the text of an earlier
    document under a new id. The last page is partial."""
    rng = random.Random(f"{seed}-docs-{round_no}")
    texts: list[str] = []
    out = []
    doc_id = round_no * 10_000_000
    for p in range(pages):
        size = page_size if p < pages - 1 else rng.randrange(page_size // 4, page_size)
        dup_page = p > 0 and rng.random() < dup_page_share
        page = []
        for _ in range(size):
            if dup_page and rng.random() < dup_doc_share:
                text = rng.choice(texts)
            else:
                text = f"{doc_id} " + sentence(rng, rng.randrange(20, 80))
            doc_id += 1
            page.append({"doc_id": doc_id, "text": text})
        texts.extend(d["text"] for d in page)
        out.append(page)
    return out


class PageServer:
    """Single-threaded HTTP server for ``GET /r<round>/docs?page=N``: page N
    of that round as a JSON array, ``[]`` past the last page."""

    def __init__(self):
        self.bodies: dict[tuple[int, int], bytes] = {}
        bodies = self.bodies

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — http.server's name
                url = urlparse(self.path)
                rnd = int(url.path.split("/")[1][1:])
                page = int(parse_qs(url.query)["page"][0])
                body = bodies.get((rnd, page), b"[]")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.httpd = HTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.httpd.serve_forever, name="page-server", daemon=True)
        self.thread.start()

    def add_round(self, round_no: int, pages: list[list[dict]]) -> str:
        """Serve ``pages`` as round ``round_no``; returns the base URL."""
        for i, page in enumerate(pages):
            self.bodies[(round_no, i)] = json.dumps(page).encode("utf-8")
        return f"http://127.0.0.1:{self.httpd.server_port}/r{round_no}/docs"

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)
