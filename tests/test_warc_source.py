"""WARC source (sources/warc.py) vs the write-side twin fixture."""

from pyspark.sql import functions as F

from pdf_ai_mapper_spark.fixtures.webpages import (
    build_html, build_warc, url_of, warc_ts_of)
from pdf_ai_mapper_spark.sources.warc import (
    iter_warc_records, read_warc, warc_response_rows)


def _rows(n=6):
    out = []
    for i in range(n):
        html, truth = build_html(i)
        out.append((url_of(i), warc_ts_of(i), html, truth))
    return out


def test_roundtrip_plain_and_gzip():
    rows = _rows()
    for gz in (False, True):
        data = build_warc([(u, t, h) for u, t, h, _ in rows],
                          gzip_members=gz)
        got = list(warc_response_rows(data))
        assert [g[0] for g in got] == [r[0] for r in rows]
        assert [g[1] for g in got] == [r[1] for r in rows]
        assert [g[2] for g in got] == [r[2] for r in rows]


def test_non_response_records_skipped():
    rows = _rows(3)
    data = build_warc([(u, t, h) for u, t, h, _ in rows])
    # splice in a warcinfo record up front
    info = (b'WARC/1.0\r\nWARC-Type: warcinfo\r\n'
            b'Content-Length: 9\r\n\r\nfields...\r\n\r\n')
    got = list(warc_response_rows(info + data))
    assert len(got) == 3
    assert len(list(iter_warc_records(info + data))) == 4


def test_truncated_tail_keeps_complete_records():
    rows = _rows(4)
    data = build_warc([(u, t, h) for u, t, h, _ in rows])
    assert len(list(warc_response_rows(data[:len(data) - 40]))) == 3


def test_spark_read_and_extract_byte_identity(spark, tmp_path):
    """End-to-end: WARC files on disk → read_warc → the real extraction
    transform → byte-identical main text per url."""
    from pdf_ai_mapper_spark.pipeline import transform
    rows = _rows(10)
    (tmp_path / 'seg1.warc').write_bytes(
        build_warc([(u, t, h) for u, t, h, _ in rows[:5]]))
    (tmp_path / 'seg2.warc.gz').write_bytes(
        build_warc([(u, t, h) for u, t, h, _ in rows[5:]],
                   gzip_members=True))
    pages = read_warc(spark, str(tmp_path))
    assert pages.count() == 10
    out = {r['url']: r['extracted_text']
           for r in transform(pages, run_id='warc-test').collect()}
    for u, _, _, truth in rows:
        assert out[u] == truth


def test_member_ranges_tile_both_formats():
    import io

    from pdf_ai_mapper_spark.sources.warc import iter_warc_ranges_stream
    rows = _rows(8)
    for gz in (False, True):
        data = build_warc([(u, t, h) for u, t, h, _ in rows],
                          gzip_members=gz)
        ranges = iter_warc_ranges_stream(io.BytesIO(data))
        assert len(ranges) == 8
        # ranges tile the file exactly
        pos = 0
        for off, ln in ranges:
            assert off == pos and ln > 0
            pos += ln
        assert pos == len(data)
        # every single range parses to exactly its record
        for i, (off, ln) in enumerate(ranges):
            got = list(warc_response_rows(data[off:off + ln]))
            assert len(got) == 1 and got[0][0] == rows[i][0]


def test_indexed_read_splits_one_big_file_across_tasks(spark, tmp_path):
    """VERDICT r3 #5: a single big WARC (raw + member-gzip) must split
    across >=4 tasks via the offset-index sidecar with byte-identical
    rows vs the whole-file read."""
    from pdf_ai_mapper_spark.sources.warc import build_warc_index

    # ~8 MB of records in ONE file per format (big enough to split
    # into >=4 spans at a 1 MiB task target; same code path as GBs).
    # Padding is pseudo-random so the gzip members stay ~full-size —
    # compressed member lengths are what the index measures.
    import random
    rows = []
    for i in range(160):
        html, _ = build_html(i)
        rows.append((url_of(i), warc_ts_of(i),
                     html + random.Random(i).randbytes(50_000)))
    for name, gz in (('big.warc', False), ('bigz.warc.gz', True)):
        d = tmp_path / name.split('.')[0]
        d.mkdir()
        (d / name).write_bytes(build_warc(rows, gzip_members=gz))

        idx = build_warc_index(spark, str(d))
        assert idx.count() == 160

        got = read_warc(spark, str(d), index=idx,
                        target_task_bytes=1 << 20)
        n_tasks = (got.select(F.spark_partition_id().alias('p'))
                   .distinct().count())
        assert n_tasks >= 4, (name, n_tasks)

        whole = {(r['url'], r['warc_ts'], bytes(r['html']))
                 for r in read_warc(spark, str(d)).collect()}
        split = {(r['url'], r['warc_ts'], bytes(r['html']))
                 for r in got.collect()}
        assert split == whole and len(split) == 160


def test_indexed_read_from_persisted_index_path(spark, tmp_path):
    from pdf_ai_mapper_spark.sources.warc import build_warc_index
    rows = _rows(10)
    d = tmp_path / 'seg'
    d.mkdir()
    (d / 'a.warc.gz').write_bytes(
        build_warc([(u, t, h) for u, t, h, _ in rows], gzip_members=True))
    ipath = str(tmp_path / 'warc_index')
    build_warc_index(spark, str(d)).write.parquet(ipath)
    got = read_warc(spark, str(d), index=ipath)
    assert got.count() == 10
