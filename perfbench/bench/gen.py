"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical parquet files, another seed gives other files. The program
under test only ever sees the files.

* Kafka-envelope events (``connect_batch`` and ``connect_stream``):
  ``topic, partition, key, value, timestamp, headers, props`` where
  ``value`` is a struct with a nested ``parent.child`` path and ``key`` and
  ``props`` are JSON object strings. Strings are plain ASCII words and
  numbers are integers, so the JSON text every engine writes is the same.
* The curation corpus (``curation_tail``): a ``documents`` table holding
  only ``doc_id``, the one column ``q_pagerank`` reads. It depends on no
  seed: that workload's input is the same in every run.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPICS = ["orders.v1", "payments.v1", "clicks.v2", "audit.v3"]
WORDS = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
         "hash", "merge", "batch", "spark", "the", "line", "sort", "window",
         "order", "data", "column", "join", "small", "big", "query", "customer",
         "stream", "filter", "group", "vector", "a"]
BASE_TS_MS = 1_700_000_000_000

ENVELOPE_SCHEMA = pa.schema([
    pa.field("topic", pa.string(), nullable=False),
    pa.field("partition", pa.int32(), nullable=False),
    pa.field("key", pa.string()),
    pa.field("value", pa.struct([
        pa.field("id", pa.int64()),
        pa.field("amount", pa.int64()),
        pa.field("status", pa.string()),
        pa.field("parent", pa.struct([
            pa.field("child", pa.struct([
                pa.field("k1", pa.int64()),
                pa.field("k2", pa.string()),
                pa.field("k3", pa.int64()),
            ])),
            pa.field("tag", pa.string()),
        ])),
        pa.field("note", pa.string()),
    ])),
    pa.field("timestamp", pa.int64()),
    pa.field("headers", pa.list_(pa.field("element", pa.struct([
        pa.field("key", pa.string()),
        pa.field("value", pa.binary()),
    ]), nullable=False))),
    pa.field("props", pa.string()),
])


def _pick(rng, words, n):
    return pc.take(pa.array(words, pa.string()), pa.array(rng.integers(0, len(words), n)))


def _cat(*parts):
    """Element-wise string concatenation of arrays and scalar literals."""
    return pc.binary_join_element_wise(*parts, "")


def _str(a):
    return pc.cast(pa.array(a), pa.string())


def events(rng, ids, ts):
    """One envelope table: a row per id, ``ts`` its epoch-millis timestamp."""
    n = len(ids)
    ids = np.asarray(ids, dtype=np.int64)
    key = _cat('{"id":', _str(ids), ',"tenant":"t', _str(rng.integers(0, 50, n)),
               '","region":"', _pick(rng, ["eu", "us", "ap", "sa"], n), '"}')
    child = pa.StructArray.from_arrays(
        [pa.array(rng.integers(0, 10**6, n)), _pick(rng, WORDS, n),
         pa.array(rng.integers(0, 10**9, n))], names=["k1", "k2", "k3"])
    parent = pa.StructArray.from_arrays([child, _pick(rng, WORDS, n)],
                                        names=["child", "tag"])
    note = _cat(_pick(rng, WORDS, n), " ", _pick(rng, WORDS, n), " ",
                _pick(rng, WORDS, n))
    value = pa.StructArray.from_arrays(
        [pa.array(ids), pa.array(rng.integers(1, 10**7, n)),
         _pick(rng, ["new", "paid", "shipped", "void"], n), parent, note],
        fields=list(ENVELOPE_SCHEMA.field("value").type))
    trace = pc.cast(_str(rng.integers(0, 2**62, n)), pa.binary())
    hdr = pa.StructArray.from_arrays(
        [pa.array(["trace"] * n, pa.string()), trace], names=["key", "value"])
    headers = pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), hdr,
                                       type=ENVELOPE_SCHEMA.field("headers").type)
    props = _cat('{"user":"u', _str(rng.integers(0, 10**5, n)),
                 '","score":', _str(rng.integers(0, 100, n)),
                 ',"meta":{"src":"', _pick(rng, ["web", "app", "api"], n),
                 '","debug":"', _pick(rng, WORDS, n), _pick(rng, WORDS, n),
                 '","ver":', _str(rng.integers(1, 9, n)),
                 '},"flags":"', _pick(rng, WORDS, n), '"}')
    return pa.Table.from_arrays(
        [_pick(rng, TOPICS, n), pa.array(rng.integers(0, 8, n), pa.int32()), key,
         value, pa.array(np.asarray(ts, dtype=np.int64)), headers, props],
        schema=ENVELOPE_SCHEMA)


def _write(table, path):
    pq.write_table(table, path, use_dictionary=False)
    return path


def write_batch_input(out_dir, seed, rows, files, threads=4):
    """``files`` parquet files holding ``rows`` events between them."""
    os.makedirs(out_dir, exist_ok=True)
    per = rows // files

    def one(f):
        rng = np.random.default_rng([seed, 1, f])
        ids = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        ts = BASE_TS_MS + rng.integers(0, 86_400_000, per)
        return _write(events(rng, ids, ts),
                      os.path.join(out_dir, f"part-{f:04d}.parquet"))

    with ThreadPoolExecutor(threads) as pool:
        return list(pool.map(one, range(files)))


def write_stream_input(out_dir, seed, n_files, rows_per_file, dup_share, dup_reach,
                       threads=4):
    """The landing-zone files of ``connect_stream``, in landing order.

    File ``i`` carries event times in ``[i, i+1)`` seconds after the base,
    so event time rises with landing order. After the first file, a
    ``dup_share`` of each file's rows are exact copies of rows from the
    ``dup_reach`` files before it: every duplicate is far inside the
    watermark horizon and no original is ever behind the watermark, so the
    deduplicated output does not depend on how files split into batches.
    Returns the file paths and the number of duplicate rows planted.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    recent, tables, planted = [], [], 0
    for i in range(n_files):
        n_dup = int(rows_per_file * dup_share) if recent else 0
        n_new = rows_per_file - n_dup
        ids = np.arange(n_new, dtype=np.int64) + i * rows_per_file
        ts = BASE_TS_MS + i * 1000 + np.sort(rng.integers(0, 1000, n_new))
        fresh = events(rng, ids, ts)
        table = fresh
        if n_dup:
            pool = pa.concat_tables(recent)
            table = pa.concat_tables(
                [fresh, pool.take(pa.array(rng.choice(pool.num_rows, n_dup, replace=False)))])
            planted += n_dup
        tables.append(table)
        recent = (recent + [fresh])[-dup_reach:]
    with ThreadPoolExecutor(threads) as pool:
        paths = list(pool.map(
            _write, tables, [os.path.join(out_dir, f"f{i:05d}.parquet") for i in range(n_files)]))
    return paths, planted


def write_corpus(out_dir, n_docs):
    """The ``documents`` table of ``curation_tail``: doc ids ``0 .. n_docs-1``."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64))})
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
