"""The workloads: their inputs, operations and output checks.

An operation takes ``(spark, pass_dir)`` and returns a DataFrame.  It
reaches the engine only through public entry points: a registry query
of ``__spark_entry__`` or a public function of ``fsharp_dataframe_spark``.

Every operation names its check, run on pass 0 of each run, which reads
the default seed's first-pass inputs:

- ``("oracle", q)``: the DuckDB oracle SQL of registry query ``q``, over
  views of the pass directory's tables;
- ``("twin", op)``: equal to the output of the workload's operation
  ``op`` (each ``<fn>.join`` against its ``<fn>.broadcast`` twin);
- ``("union_find", None)``: components equal to a Python union-find
  over the same edge list.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable  # (spark, pass_dir) -> DataFrame
    check: tuple


@dataclass(frozen=True)
class Workload:
    tables: str          # table set of gen.tables
    size: dict           # row counts passed to the generator
    ops: tuple


def _registry(name: str) -> Op:
    def build(spark, d):
        import __spark_entry__

        return __spark_entry__._all_queries()[name](spark, d)

    return Op(name, build, ("oracle", name))


def _embeddings(spark, d):
    from fsharp_dataframe_spark.sources.parquet import load_table

    return load_table(spark, d, "embeddings")


def _gated(fn_name: str, oracle: str, n_vectors: int, **kw) -> tuple[Op, Op]:
    """``<fn>.broadcast`` with the default budget (checked against the
    registry oracle of the same call) and ``<fn>.join`` with
    ``broadcast_budget_bytes=0`` (checked against its twin)."""
    def build(budget):
        def run(spark, d):
            from fsharp_dataframe_spark.functions import similarity

            fn = getattr(similarity, fn_name)
            extra = {} if budget is None else {"broadcast_budget_bytes": budget}
            return fn(_embeddings(spark, d), n_vectors=n_vectors, **kw, **extra)
        return run

    b = Op(f"{fn_name}.broadcast", build(None), ("oracle", oracle))
    j = Op(f"{fn_name}.join", build(0), ("twin", b.name))
    return b, j


def cc_edges(spark, d):
    from pyspark.sql import functions as F

    from fsharp_dataframe_spark.functions.dedup import ngram_jaccard_pairs
    from fsharp_dataframe_spark.sources.parquet import load_table

    docs = load_table(spark, d, "documents")
    return (ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=10_000)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))


def _cc_distributed(spark, d):
    """connected_components forced onto its iterative scale path."""
    from fsharp_dataframe_spark.functions.graph import connected_components

    return connected_components(cc_edges(spark, d), small_graph_max_edges=0)


EMBED_N = 300
MEDIA_N = 100

WORKLOADS = {
    "frame_ops": Workload(
        "frame", {"events": 10_000, "orders": 15_000, "customers": 1_500},
        tuple(_registry(q) for q in (
            "asof_grouped", "window_moving_avg", "resample_daily",
            "fill_forward", "frame_join_left", "pivot", "group_agg"))),
    "text_dedup": Workload(
        "documents", {"documents": 300},
        (_registry("near_dedup"),
         Op("connected_components.distributed", _cc_distributed,
            ("union_find", None)))),
    "embed_media": Workload(
        "media", {"embeddings": EMBED_N, "documents": MEDIA_N},
        (*_gated("cosine_pairs_exact", "embed_near_dup", EMBED_N,
                 threshold=0.4, dim=64),
         _registry("audio_stream_dedup"))),
}


# ---------------------------------------------------------------- checks

def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two frames hold the same rows, else the differences,
    by the rules of the repo's oracle gate (``tools/check_oracle.py``):
    columns and rows in any order, floats to 1e-9, no int/float drift.
    Imported here, not at module load, so the gate's own imports run
    after a tracer has wrapped the engine."""
    from tools.check_oracle import compare as gate_compare

    problems = gate_compare("perfbench", got, want)
    return "; ".join(problems) if problems else None


def union_find_components(edges: pd.DataFrame) -> pd.DataFrame:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, t in zip(edges["src"].tolist(), edges["dst"].tolist()):
        a, b = find(s), find(t)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return pd.DataFrame({"node": list(parent),
                         "component": [find(x) for x in parent]},
                        dtype="int64")


def oracle_frame(con, pass_dir: str, query: str) -> pd.DataFrame:
    """Run registry query ``query``'s DuckDB oracle over ``pass_dir``."""
    import __spark_entry__

    for f in sorted(os.listdir(pass_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(pass_dir, f).replace("'", "''")
            con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS "
                        f"SELECT * FROM '{path}'")
    return con.execute(__spark_entry__._all_oracle_sql()[query]).df()
