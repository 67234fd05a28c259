"""The four workloads: inputs drawn from the seed, a fixed job list per
round, and an exact output check per distinct job.

Each job is a call into a public function of the package that returns
a lazy DataFrame (its ``plan`` step) followed by an action (its
``exec`` step). Jobs carry the package layer they exercise: ``matrix``
for ``CooMatrix.multiply`` and ``block_multiply``, otherwise the
package that defines the registry query.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import Oracle, coo_product, dense_cells, matmul_mismatch
from tables import Scale, write_tables

LAYERS = ("matrix", "operators", "dedup", "similarity", "text", "multimodal", "streaming")

QUERY_MIX = (
    "pricing_summary", "json_extraction", "market_basket_pairs",
    "label_propagation_communities", "supplier_two_hop_reach",
    "minhash_lsh_pairs", "ann_pq_rerank_topk", "bpe_train_merges",
)
CODEC_LADDER = (
    "multimodal_jpeg_roundtrip", "multimodal_deflate_decode",
    "multimodal_flac_decode", "multimodal_mpeg_motion", "multimodal_avc_cavlc",
    "multimodal_psycho_audio", "multimodal_gif_decode", "stream_avc_ingest",
)

# Sizes per workload; "tiny" is the smoke run of selftest.py.
SIZES = {
    "full": {
        "ladder": (4, 10, 50, 100, 200),
        "dense": (600, 150),  # n, block_size
        "sparse": (3000, 0.005),  # n, density
        "query_scale": Scale.sf(0.005, documents=250, embeddings=250),
        "queries": QUERY_MIX,
        "codec_scale": Scale.sf(0.001, documents=100, embeddings=100),
        "codecs": CODEC_LADDER,
    },
    "tiny": {
        "ladder": (4, 10),
        "dense": (64, 32),
        "sparse": (1500, 0.0005),
        "query_scale": Scale.sf(0.001, documents=100, embeddings=100),
        "queries": ("pricing_summary", "minhash_lsh_pairs", "ann_pq_rerank_topk",
                    "bpe_train_merges"),
        "codec_scale": Scale.sf(0.001, documents=20, embeddings=20),
        "codecs": ("multimodal_gif_decode", "stream_avc_ingest"),
    },
}


@dataclass
class Job:
    name: str
    layer: str
    plan: Callable[[], object]  # returns the lazy DataFrame
    collect: Callable[[object], object]  # the warm-up's action
    # None when the collected output matches the reference, else why not.
    compare: Callable[[object], str | None]
    input_bytes: int = 0  # COO bytes of the operands (matrix jobs)


@dataclass
class Workload:
    jobs: list[Job]
    shuffle: bool  # whether the seed reorders jobs within a round
    notes: str
    oracle: Oracle | None = None
    sf_dir: str | None = None  # the registry tables, for registry workloads

    def close_oracle(self) -> None:
        if self.oracle is not None:
            self.oracle.close()
            self.oracle = None

    def remove_stream_staging(self) -> None:
        """Streaming jobs stage their sources through the package's
        ``_stream_dir``, under the system temp dir; remove this run's."""
        if self.sf_dir is None or all(j.layer != "streaming" for j in self.jobs):
            return
        from matrix_multiplication_map_reduce_gcp_spark.streaming.core import _stream_dir

        staged = os.path.dirname(_stream_dir(self.sf_dir))
        shutil.rmtree(staged, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(staged))  # only if no other run uses it
        except OSError:
            pass

    def round_order(self, seed: int, rnd: int) -> list[Job]:
        if not self.shuffle:
            return list(self.jobs)
        perm = np.random.default_rng([seed, rnd]).permutation(len(self.jobs))
        return [self.jobs[i] for i in perm]


# ---- matrix inputs ---------------------------------------------------------

COO_SCHEMA = pa.schema([("i", pa.int64()), ("j", pa.int64()), ("v", pa.float64())])
COO_SCHEMA_DDL = "i long, j long, v double"


def _write_coo(path: str, i, j, v) -> int:
    pq.write_table(pa.table([pa.array(i, pa.int64()), pa.array(j, pa.int64()),
                             pa.array(v, pa.float64())], schema=COO_SCHEMA), path)
    return 24 * len(i)


def _dense_coo(path: str, m: np.ndarray) -> int:
    i, j, v = dense_cells(m)
    return _write_coo(path, i, j, v)


def _sparse(rng, n: int, density: float) -> tuple:
    nnz = int(n * n * density)
    flat = np.unique(rng.integers(0, n * n, int(nnz * 1.2) + 16))
    flat = rng.permutation(flat)[:nnz]
    flat.sort()
    return flat // n, flat % n, rng.integers(1, 100, len(flat)).astype(np.int64)


def _coo(spark, path: str, n_rows: int, n_cols: int):
    from matrix_multiplication_map_reduce_gcp_spark.matrix import CooMatrix

    return CooMatrix(spark.read.schema(COO_SCHEMA_DDL).parquet(path), n_rows, n_cols)


def _collect_coo(df) -> dict[str, np.ndarray]:
    t = df.toArrow()
    return {c: t.column(c).to_numpy() for c in ("i", "j", "v")}


def _dense_job(spark, rng, work: str, name: str, n: int, multiply) -> Job:
    """Dense integer product, values 0..99 as in the reference's test."""
    a = rng.integers(0, 100, (n, n)).astype(np.int64)
    b = rng.integers(0, 100, (n, n)).astype(np.int64)
    nbytes = _dense_coo(f"{work}/{name}_a.parquet", a) + _dense_coo(f"{work}/{name}_b.parquet", b)
    A, B = _coo(spark, f"{work}/{name}_a.parquet", n, n), _coo(spark, f"{work}/{name}_b.parquet", n, n)

    def compare(got):
        return matmul_mismatch(got, *dense_cells(a @ b))

    return Job(name, "matrix", lambda: multiply(A, B).df, _collect_coo, compare, nbytes)


def matmul_ladder(ctx) -> Workload:
    rng = np.random.default_rng(ctx.seed)
    jobs = [
        _dense_job(ctx.spark, rng, ctx.input_dir, f"ladder_{n}", n, lambda A, B: A.multiply(B))
        for n in ctx.size["ladder"]
    ]
    return Workload(jobs, False, "dense uniform integers 0..99 drawn from the seed; "
                    "CooMatrix.multiply with its defaults")


def matmul_large(ctx) -> Workload:
    from matrix_multiplication_map_reduce_gcp_spark.matrix.block import block_multiply

    rng = np.random.default_rng(ctx.seed)
    n, bs = ctx.size["dense"]
    dense = _dense_job(ctx.spark, rng, ctx.input_dir, f"block_{n}", n,
                       lambda A, B: block_multiply(A, B, block_size=bs))
    n, density = ctx.size["sparse"]
    a, b = _sparse(rng, n, density), _sparse(rng, n, density)
    pa_, pb_ = f"{ctx.input_dir}/sparse_a.parquet", f"{ctx.input_dir}/sparse_b.parquet"
    nbytes = _write_coo(pa_, *a) + _write_coo(pb_, *b)
    A, B = _coo(ctx.spark, pa_, n, n), _coo(ctx.spark, pb_, n, n)

    def compare(got):
        return matmul_mismatch(got, *coo_product(a, b, n))

    sparse = Job(f"sparse_{n}", "matrix", lambda: A.multiply(B).df, _collect_coo, compare,
                 nbytes)
    return Workload([dense, sparse], False,
                    f"dense block product and a sparse product at density {density} "
                    "drawn from the seed, alternating")


def _collect_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def _registry_workload(ctx, names, scale: Scale, subdir: str) -> Workload:
    sf_dir = write_tables(f"{ctx.input_dir}/{subdir}", ctx.seed, scale)
    oracle = Oracle(sf_dir, ctx.tmp_dir)
    jobs = []
    for name in names:
        qd = ctx.queries[name]

        def compare(got, sql=qd.oracle):
            return oracle.mismatch(sql, *got)

        layer = qd.fn.__module__.split(".")[1]
        jobs.append(Job(name, layer, lambda fn=qd.fn: fn(ctx.spark, sf_dir), _collect_rows,
                        compare))
    return Workload(jobs, True, "fixture tables drawn from the seed (schemas and "
                    "distributions of the shipped fixtures); the seed also orders "
                    "the jobs within each round", oracle, sf_dir)


def query_mix(ctx) -> Workload:
    return _registry_workload(ctx, ctx.size["queries"], ctx.size["query_scale"], "query_sf")


def codec_ladder(ctx) -> Workload:
    return _registry_workload(ctx, ctx.size["codecs"], ctx.size["codec_scale"], "codec_sf")


WORKLOADS = {
    "matmul_ladder": matmul_ladder,
    "matmul_large": matmul_large,
    "query_mix": query_mix,
    "codec_ladder": codec_ladder,
}
