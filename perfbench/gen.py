"""Seeded input generator: replicates the committed fixture tables.

The fixture under perfbench/fixture is the sf0.01 table set (schemas in the
repo's FIXTURES.md). A workload scales each table by an integer factor with
the replica construction of graft.tools.CorpusDecade, so the properties the
ops depend on (event-type mix, numeric and missing-field shares, near-dup
rate, embedding clusters) hold in every replica:

* replica 0 is the fixture itself, so the ANN probes (vec_id < 20) and every
  id-keyed slice the ops take stay where the ops expect them;
* replica r > 0 shifts every id column by r * stride, where the stride is
  the column's max + 1 plus a seeded gap, so foreign keys match only within
  a replica;
* replica r > 0 renames every document token with a seeded per-replica
  suffix, a bijection that keeps each replica's shingle sets, near-dup pairs
  and clusters and shares no shingle across replicas;
* rows are dealt to files by a seeded permutation.

The program only ever sees the generated directory.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

# id columns per table -> the table.column whose stride they share (foreign
# keys take the stride of the key they reference)
ID_COLS = {
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
    "documents": {"doc_id": "documents.doc_id"},
    "embeddings": {"vec_id": "embeddings.vec_id"},
    "customer": {"c_custkey": "customer.c_custkey"},
    "orders": {"o_orderkey": "orders.o_orderkey", "o_custkey": "customer.c_custkey"},
    "lineitem": {"l_orderkey": "orders.o_orderkey", "l_partkey": "part.p_partkey",
                 "l_suppkey": "supplier.s_suppkey"},
    "supplier": {"s_suppkey": "supplier.s_suppkey"},
    "part": {"p_partkey": "part.p_partkey"},
}
# fixed dimensions copy through, as in CorpusDecade.replicateTpch
DIMS = ("nation", "region")
TABLES = tuple(ID_COLS) + DIMS


def _read(name):
    return pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))


def _strides(rng):
    out = {}
    for key in sorted({k for cols in ID_COLS.values() for k in cols.values()}):
        table, column = key.split(".")
        out[key] = pc.max(_read(table)[column]).as_py() + 1 + rng.randrange(1000)
    return out


def _replica(t, name, r, strides, suffix):
    if r == 0:
        return t
    for column, key in ID_COLS.get(name, {}).items():
        i = t.schema.get_field_index(column)
        t = t.set_column(i, column, pc.add(t[column], pa.scalar(r * strides[key], t[column].type)))
    if name == "documents":
        i = t.schema.get_field_index("text")
        words = pc.split_pattern(t["text"], " ").combine_chunks()
        tokens = pc.binary_join_element_wise(words.values, pa.scalar(suffix), "")
        renamed = pa.ListArray.from_arrays(words.offsets, tokens, mask=words.is_null())
        t = t.set_column(i, "text", pc.binary_join(renamed, " "))
    return t


def generate(out_dir, factors, seed, files):
    """Write every table under out_dir as <name>.parquet/part-<i>.parquet.

    factors: table name -> replica count (tables not named get 1).
    Returns table name -> row count.
    """
    rng = random.Random(seed)
    strides = _strides(rng)
    counts = {}
    for name in TABLES:
        base = _read(name)
        factor = 1 if name in DIMS else factors.get(name, 1)
        suffixes = ["~" + "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(3))
                    + str(r) for r in range(factor)]
        t = pa.concat_tables([_replica(base, name, r, strides, suffixes[r])
                              for r in range(factor)]).combine_chunks()
        t = t.replace_schema_metadata(None)
        perm = np.random.default_rng(rng.randrange(2 ** 32)).permutation(t.num_rows)
        t = t.take(pa.array(perm))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        n = 1 if name in DIMS or t.num_rows < 1000 else files
        step = -(-t.num_rows // n)
        for i in range(n):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        counts[name] = t.num_rows
    return counts
