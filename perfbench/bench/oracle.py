"""Correctness checks in DuckDB, run after the timed region.

* Connect workloads: DuckDB runs the same transform chain (and, for the
  stream, the same dedup) over the same generated files. Both sides are
  reduced to a row count and an order-independent content hash.
* Curation queries: each output is compared with graft's own DuckDB oracle
  SQL for that query, through the canonicalisation of
  ``tools/oracle_check.py`` (sorted columns and rows, type-strict values).
"""
import importlib.util

import duckdb
import pandas as pd

# The chain the Connect workloads run, in Kafka Connect worker syntax.
CHAIN = {
    "transforms": "dropValue,hoistKey,dropProps,toJson",
    "transforms.dropValue.type": "org.apache.kafka.connect.transforms.DropField$Value",
    "transforms.dropValue.fields": "parent.child.k2",
    "transforms.hoistKey.type": "ExtendedHoistField$Key",
    "transforms.hoistKey.field": "wrapped",
    "transforms.hoistKey.keepInRootFieldNames": "id",
    "transforms.dropProps.type": "DropField",
    "transforms.dropProps.column": "props",
    "transforms.dropProps.fields": "meta.debug,flags",
    "transforms.toJson.type": "StructuredSchemalessToJsonString$Value",
    "transforms.toJson.includeStructs": "true",
}

COLUMNS = 'topic, "partition", key, value, "timestamp", headers, props'


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _files(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def chain_sql(paths):
    """The CHAIN written out in DuckDB SQL over the given parquet files."""
    return f"""
SELECT topic, "partition",
  json_object('id', json_extract(key, '$.id')::BIGINT,
              'wrapped', json_object('tenant', json_extract_string(key, '$.tenant'),
                                     'region', json_extract_string(key, '$.region')))::VARCHAR AS key,
  to_json(struct_pack(id := value.id, amount := value.amount, status := value.status,
    parent := struct_pack(child := struct_pack(k1 := value.parent.child.k1,
                                               k3 := value.parent.child.k3),
                          tag := value.parent.tag),
    note := value.note))::VARCHAR AS value,
  "timestamp", headers,
  json_object('user', json_extract_string(props, '$.user'),
              'score', json_extract(props, '$.score')::BIGINT,
              'meta', json_object('src', json_extract_string(props, '$.meta.src'),
                                  'ver', json_extract(props, '$.meta.ver')::BIGINT))::VARCHAR AS props
FROM read_parquet({_files(paths)})"""


def _digest(con, relation):
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({COLUMNS})::HUGEINT), 0) "
                   f"FROM ({relation})").fetchone()
    return int(n), int(h)


def expected_digest(con, inputs, dedup=False):
    rel = chain_sql(inputs)
    return _digest(con, f"SELECT DISTINCT * FROM ({rel})" if dedup else rel)


def output_digest(con, out_dir):
    return _digest(con, f"SELECT {COLUMNS} FROM read_parquet('{out_dir}/*.parquet')")


def load_oracle_check(path):
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frames_equal(oc, spark_df, oracle_df):
    """True when two result frames agree under oracle_check's rules."""
    s, o = oc.canon(spark_df), oc.canon(oracle_df)
    if len(s) != len(o) or list(s.columns) != list(o.columns):
        return False
    return all(oc.values_equal(x, y)
               for c in s.columns for x, y in zip(s[c].tolist(), o[c].tolist()))


class CurationOracle:
    """Oracle results of the curation queries, computed once per run."""

    def __init__(self, oracle_check_path, corpus_dir, oracle_sql):
        self.oc = load_oracle_check(oracle_check_path)
        self.con = connect()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{corpus_dir}/documents.parquet'")
        self.sql = oracle_sql
        self.cache = {}

    def check(self, query, out_dir):
        if query not in self.cache:
            self.cache[query] = self.con.sql(self.sql[query]).df()
        return frames_equal(self.oc, pd.read_parquet(out_dir), self.cache[query])
