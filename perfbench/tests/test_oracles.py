"""Each oracle catches an injected duplicate and an injected loss."""

from datetime import datetime, timedelta

from perfbench import fixtures, oracles
from perfbench.workloads import USERS_SCHEMA
from tamer_spark.serde.avro import AvroCodec


def test_exactly_once_reports_duplicates_losses_and_strays():
    assert oracles.exactly_once("x", [1, 2, 3], [3, 2, 1]).ok
    dup = oracles.exactly_once("x", [1, 2, 2, 3], [1, 2, 3])
    lost = oracles.exactly_once("x", [1, 3], [1, 2, 3])
    stray = oracles.exactly_once("x", [1, 2, 3, 4], [1, 2, 3])
    assert not dup.ok and dup.detail["duplicated"] == 1
    assert not lost.ok and lost.detail["missing"] == 1
    assert not stray.ok and stray.detail["unexpected"] == 1


def _objects(n):
    return {k: fixtures.object_lines(7, k, 3) for k in range(1, n + 1)}


def test_object_oracle():
    expected = _objects(3)
    good = {0: expected[1], 2: expected[2], 5: expected[3]}
    assert all(c.ok for c in oracles.check_objects(good, expected))
    dup = {**good, 6: expected[3]}  # a replay that appended instead of overwriting
    lost = {0: expected[1], 5: expected[3]}
    swapped = {0: expected[2], 2: expected[1], 5: expected[3]}
    for bad in (dup, lost, swapped):
        assert not all(c.ok for c in oracles.check_objects(bad, expected))


def _kafka_records(rows, codec):
    return [(r[0].encode(), codec.encode(oracles.avro_record(r))) for r in rows]


def test_kafka_oracle_skips_the_row_on_the_exclusive_from_bound():
    codec = AvroCodec(USERS_SCHEMA)
    start = datetime(2020, 1, 1)
    rows = [("%032x" % i, f"n{i}", None if i % 2 else "d", start + timedelta(seconds=i)) for i in range(20)]
    want = rows[1:]  # rows[0] sits exactly on from_ts
    records = _kafka_records(want, codec)
    assert all(c.ok for c in oracles.check_kafka(records, rows, start, codec, seed=1))
    for bad in (records + records[:1], records[1:], _kafka_records(rows, codec)):
        assert not oracles.check_kafka(bad, rows, start, codec, seed=1)[0].ok
    corrupt = records[:-1] + [(records[-1][0], codec.encode({**oracles.avro_record(want[-1]), "name": "x"}))]
    checks = oracles.check_kafka(corrupt, rows, start, codec, seed=1, sample=len(corrupt))
    assert checks[0].ok and not checks[1].ok


def test_dedup_oracle_keeps_min_id_per_text():
    pages = fixtures.document_pages(3, 0, pages=4, page_size=20, dup_page_share=1.0, dup_doc_share=0.5)
    served = [(d["doc_id"], d["text"]) for p in pages for d in p]
    first = {}
    for doc_id, text in served:
        first.setdefault(text, doc_id)
    curated = [(i, t) for t, i in first.items()]
    assert len(curated) < len(served)  # the fixture does re-serve texts
    assert oracles.check_curated(curated, pages).ok
    assert not oracles.check_curated(curated + curated[:1], pages).ok
    assert not oracles.check_curated(curated[1:], pages).ok
    later = next((i, t) for i, t in served if first[t] != i)
    assert not oracles.check_curated([c for c in curated if c[1] != later[1]] + [later], pages).ok
