"""End-to-end source tests through the engine loop, mirroring the
reference's docker-compose fixtures (FIXTURES.md §2-4) without Docker:
object-cursor over a tmp dir, REST against an in-process HTTP server,
JDBC-tumbling with a parquet-backed read seam."""

from __future__ import annotations

import json
import threading
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from tamer_spark.engine import Pipeline
from tamer_spark.sinks import MemorySink
from tamer_spark.sources import (
    BearerAuth,
    JdbcTumblingSource,
    LocalFSLister,
    ObjectCursorSource,
    PaginatedRestSource,
)

UTC = timezone.utc


# --- object store: time-keyed (FIXTURES §2) -------------------------------

def test_object_cursor_timed_consumes_in_order(spark, tmp_path):
    root = tmp_path / "bucket"
    (root / "myFolder").mkdir(parents=True)
    for i in range(1, 6):
        (root / "myFolder" / f"myPrefix2021-01-01T00.0{i}.00.txt").write_text(
            f"line-{i}-a\nline-{i}-b\n"
        )
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root)),
        prefix="myFolder/myPrefix",
        cursor_kind="instant",
        fmt="%Y-%m-%dT%H.%M.%S",
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=7)  # 5 objects + 2 empty polls
    values = [r.value for r in sink.rows]
    assert values == [f"line-{i}-{s}" for i in range(1, 6) for s in "ab"]
    # new object appears later → picked up, exactly once
    (root / "myFolder" / "myPrefix2021-01-01T00.06.00.txt").write_text("late\n")
    pipe2 = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe2.run(spark, max_iterations=1)
    assert [r.value for r in sink.rows][-1] == "late"


def test_object_cursor_numeric(spark, tmp_path):
    root = tmp_path / "bucket2"
    (root / "myFolder2").mkdir(parents=True)
    for n in (1, 2, 10):  # lexicographic trap: 10 must come after 2
        (root / "myFolder2" / f"myPrefix{n}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root)), prefix="myFolder2/myPrefix", cursor_kind="number"
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=4)
    assert [r.value for r in sink.rows] == ["obj1", "obj2", "obj10"]


def test_object_cursor_pages_past_listing_cap(spark, tmp_path):
    """With more objects than one listing page returns, the cursor must page
    via start_after instead of stalling at key max_keys+1 forever."""
    root = tmp_path / "bucket3"
    (root / "d").mkdir(parents=True)
    for n in range(1, 8):  # 7 objects, pages of 2
        (root / "d" / f"k{n}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=LocalFSLister(str(root), max_keys=2), prefix="d/k", cursor_kind="number"
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=8)
    assert [r.value for r in sink.rows] == [f"obj{n}" for n in range(1, 8)]


def test_object_cursor_lister_error_propagates(tmp_path):
    """A TypeError raised inside a lister is a real failure: the cursor must
    raise it, not fall back to the first page and report "no new object"
    forever."""
    root = tmp_path / "bucket5"
    (root / "d").mkdir(parents=True)
    for n in range(1, 6):
        (root / "d" / f"k{n}").write_text(f"obj{n}\n")

    class BrokenSecondPage(LocalFSLister):
        def list_keys(self, prefix, start_after=None):
            if start_after is not None:
                raise TypeError("lister bug on page 2")
            return super().list_keys(prefix, start_after)

    src = ObjectCursorSource(
        lister=BrokenSecondPage(str(root), max_keys=2), prefix="d/k", cursor_kind="number"
    )
    with pytest.raises(TypeError, match="page 2"):
        src.iteration({"cursor": 2}, spark=None)  # the next object is on page 2


def test_object_cursor_monotonic_fastpath_resumes_from_last_key(spark, tmp_path):
    """Zero-padded keys: monotonic_keys=True lists from the last consumed key
    (O(1) per iteration) and still consumes everything in order."""
    root = tmp_path / "bucket4"
    (root / "d").mkdir(parents=True)
    listed_args = []

    class SpyLister(LocalFSLister):
        def list_keys(self, prefix, start_after=None):
            listed_args.append(start_after)
            return super().list_keys(prefix, start_after)

    for n in range(1, 6):
        (root / "d" / f"k{n:04d}").write_text(f"obj{n}\n")
    src = ObjectCursorSource(
        lister=SpyLister(str(root), max_keys=2),
        prefix="d/k",
        cursor_kind="number",
        monotonic_keys=True,
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(spark, max_iterations=6)
    assert [r.value for r in sink.rows] == [f"obj{n}" for n in range(1, 6)]
    # after the first object, every listing resumes from a consumed key
    assert any(a is not None for a in listed_args)


# --- REST: growing finite pagination + rotating bearer (FIXTURES §4-5) ----

class _RestFixture(BaseHTTPRequestHandler):
    """Reference RESTServer.scala:45-88: /finite-pagination grows over time;
    /auth rotates tokens; data requests 403 on stale tokens."""

    state = {"data": list(range(1, 8)), "token_gen": 0}

    def do_GET(self):
        s = _RestFixture.state
        if self.path.startswith("/auth"):
            s["token_gen"] += 1
            self._ok(f"token-{s['token_gen']}")
            return
        auth = self.headers.get("Authorization", "")
        if auth != f"Bearer token-{s['token_gen']}":
            self.send_response(403)
            self.end_headers()
            return
        page = int(self.path.split("page=")[1])
        chunk = s["data"][page * 3 : page * 3 + 3]
        self._ok(json.dumps([{"value": v} for v in chunk]))

    def _ok(self, body: str):
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body.encode())

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def rest_server():
    srv = HTTPServer(("127.0.0.1", 0), _RestFixture)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_rest_pagination_exactly_once_with_growth_and_auth(spark, tmp_path, rest_server):
    import urllib.request

    def get_token():
        with urllib.request.urlopen(f"{rest_server}/auth") as r:
            return r.read().decode()

    def decode(body):
        return [(d["value"],) for d in json.loads(body)], None

    src = PaginatedRestSource(
        base_url=f"{rest_server}/finite-pagination",
        page_decoder=decode,
        schema="value int",
        fixed_page_element_count=3,
        auth=BearerAuth(get_token),
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=4)  # pages 0,1 full; page 2 partial (1 elem)
    assert [r.value for r in sink.rows] == [1, 2, 3, 4, 5, 6, 7]
    # page grows by 2; token rotates (stale → refresh-on-403 path)
    _RestFixture.state["data"] = list(range(1, 10))
    _RestFixture.state["token_gen"] += 1
    pipe2 = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe2.run(spark, max_iterations=2)
    # partial-page refetch dropped the seen prefix: 8,9 appended exactly once
    assert [r.value for r in sink.rows] == list(range(1, 10))


# --- JDBC tumbling window over the users-style fixture (FIXTURES §1) ------

def test_jdbc_tumbling_ingests_every_row_exactly_once(spark, tmp_path):
    # synthesize a 200-row 'users' table spanning 40 days; the source must
    # ingest all rows across windows, exactly once (FIXTURES.md §1 invariant)
    t0 = datetime(2020, 1, 1, tzinfo=UTC)
    rows = [(f"id{i:03d}", f"user{i}", t0 + timedelta(hours=5 * i)) for i in range(200)]
    users = spark.createDataFrame(rows, "id string, name string, modified_at timestamp")
    users.write.mode("overwrite").parquet(str(tmp_path / "users.parquet"))

    def read_sql(spark_, sql):
        # parquet-backed stand-in for the DB: apply the window predicate that
        # the rendered SQL carries (pushdown simulation)
        frm, to = sql.split("'")[1], sql.split("'")[3]
        return (
            spark_.read.parquet(str(tmp_path / "users.parquet"))
            .filter((F.col("modified_at") > frm) & (F.col("modified_at") <= to))
        )

    src = JdbcTumblingSource(
        url="jdbc:test",
        query_template=(
            "SELECT id, name, modified_at FROM users "
            "WHERE modified_at > '{from_ts}' AND modified_at <= '{to_ts}'"
        ),
        ts_column="modified_at",
        from_ts=t0 - timedelta(seconds=1),
        step=timedelta(days=5),
        now_fn=lambda: t0 + timedelta(days=60),
        read_sql=read_sql,
    )
    sink = MemorySink()
    pipe = Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0)
    pipe.run(spark, max_iterations=15)
    got = sorted(r.id for r in sink.rows)
    assert got == sorted(r[0] for r in rows)  # every row exactly once
    assert len(got) == 200


def test_fetch_pages_distributed(spark, rest_server):
    """Bulk-parallel REST backfill: page URLs fetched in executors via
    mapInPandas (the scale path for known-page backfills)."""
    import urllib.request

    from tamer_spark.sources.rest import fetch_pages_distributed

    def get_token():
        with urllib.request.urlopen(f"{rest_server}/auth") as r:
            return r.read().decode()

    from tamer_spark.sources import BearerAuth

    _RestFixture.state["data"] = list(range(1, 13))
    urls = [f"{rest_server}/finite-pagination?page={p}" for p in range(4)]
    df = fetch_pages_distributed(
        spark, urls, "value int",
        page_decoder=lambda body: json.loads(body),
        auth=BearerAuth(get_token),
    )
    assert sorted(r.value for r in df.collect()) == list(range(1, 13))


# --- OCI object storage (ObjectStorageSetup.scala state machine) ----------

def test_oci_source_sequential_exactly_once(spark, tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    root = tmp_path / "oci"
    (root / "data").mkdir(parents=True)
    for n in ("a", "b", "c"):
        (root / "data" / f"obj-{n}.txt").write_text(f"payload-{n}\n")
    src = OciObjectStorageSource(
        lister=LocalFSLister(str(root)), namespace="ns1", bucket="bkt", prefix="data/obj-"
    )
    sink = MemorySink()
    # discovery and processing are offset by one iteration (reference
    # semantics): 3 objects need 4 iterations, the first only discovers.
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(
        spark, max_iterations=5
    )
    assert [r.value for r in sink.rows] == ["payload-a", "payload-b", "payload-c"]


def test_oci_source_name_finder_skips_rejected(spark, tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    root = tmp_path / "oci2"
    (root / "d").mkdir(parents=True)
    for name in ("d/keep-1.txt", "d/skip-1.tmp", "d/keep-2.txt"):
        (root / name).write_text(name + "\n")
    src = OciObjectStorageSource(
        lister=LocalFSLister(str(root)),
        namespace="ns1",
        bucket="bkt",
        prefix="d/",
        object_name_finder=lambda n: n.endswith(".txt"),
    )
    sink = MemorySink()
    Pipeline(src, sink, str(tmp_path / "cp"), poll_interval_s=0.0).run(
        spark, max_iterations=5
    )
    assert [r.value for r in sink.rows] == ["d/keep-1.txt", "d/keep-2.txt"]


def test_oci_state_key_tracks_namespace_bucket_prefix(tmp_path):
    from tamer_spark.sources import LocalFSLister, OciObjectStorageSource

    def fp(ns, bkt, pre):
        return OciObjectStorageSource(
            lister=LocalFSLister(str(tmp_path)), namespace=ns, bucket=bkt, prefix=pre
        ).state_fingerprint()

    base = fp("ns", "b", "p")
    assert base == fp("ns", "b", "p")
    # reference stateKey = hash(ns)+hash(bucket)+hash(prefix): any change
    # orphans the old checkpoint
    assert len({base, fp("ns2", "b", "p"), fp("ns", "b2", "p"), fp("ns", "b", "p2")}) == 4


def test_oci_s3_compat_endpoint_shape():
    from tamer_spark.sources import oci_s3_compat_endpoint

    assert (
        oci_s3_compat_endpoint("mytenancy", "us-phoenix-1")
        == "https://mytenancy.compat.objectstorage.us-phoenix-1.oraclecloud.com"
    )
