"""Seeded input generators and their reference answers.

Every generator is a pure function of its seed and size: the same seed
writes the same bytes. The program under test only ever sees the files
written here (or the Python lists returned for ``from_slice``). The
reference answers come from a different engine (DuckDB) or from plain
Python and NumPy, never from ``pippin_spark``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# batch_etl: the shuffle pipeline groups parsed values by value mod KEYS
KEYS = 1_000_000
# batch_etl: share of tokens that do not parse as an int
BAD_SHARE = 0.10

# batch_etl slice pipeline: the F1 fixture (FIXTURES.md) and its golden sum
F1_VALUES = ["1", "a", "2", "-3", "4", "5", "b"]
F1_GOLDEN = 398

# index_cycle geometry: DIM = PQ_M subspaces of PQ_M dims each
DIM, PQ_M, PQ_K, CELLS = 64, 8, 16, 16
QUERY_BATCH = 64
PARTS = 4  # part files per vector dataset


def _duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{work}/duckdb_tmp'")
    return con


# ---------------------------------------------------------------------------
# batch_etl
# ---------------------------------------------------------------------------


def write_tokens(path: str, n: int, seed: int) -> int:
    """Write ``n`` string tokens to one parquet file: ints in
    [-10^7, 10^7) as decimal strings, BAD_SHARE of them prefixed with
    ``x`` so they fail to parse. Returns the number of bad tokens."""
    rng = np.random.default_rng(seed)
    good = pa.array(rng.integers(-10_000_000, 10_000_000, n)).cast(pa.string())
    bad = rng.random(n) < BAD_SHARE
    garbage = pc.binary_join_element_wise(pa.scalar("x"), good, "")
    tokens = pc.if_else(pa.array(bad), garbage, good)
    pq.write_table(pa.table({"s": tokens}), path, row_group_size=max(1, n // 16))
    return int(bad.sum())


def batch_expected(work: str, path: str) -> dict:
    """Reference answers for the four batch_etl pipelines, by DuckDB
    over the same parquet file."""
    con = _duck(work)
    con.execute(
        f"CREATE VIEW parsed AS SELECT TRY_CAST(s AS INTEGER) AS v "
        f"FROM read_parquet('{path}') WHERE TRY_CAST(s AS INTEGER) IS NOT NULL"
    )
    native, odd = con.execute(
        "SELECT SUM(4 * CAST(v AS BIGINT)), COUNT(*) FROM parsed WHERE v % 2 <> 0"
    ).fetchone()
    groups = con.execute(
        f"SELECT COUNT(*), SUM(n), SUM(s), SUM(n * n) FROM ("
        f"  SELECT ((v % {KEYS}) + {KEYS}) % {KEYS} AS k, COUNT(*) AS n,"
        f"         SUM(CAST(v AS BIGINT)) AS s FROM parsed GROUP BY k)"
    ).fetchone()
    avg_half = con.execute("SELECT AVG(v * 0.5) FROM parsed").fetchone()[0]
    con.close()
    return {
        "native": int(native),
        "sink_rows": 2 * int(odd),
        "groups": tuple(int(x) for x in groups),
        "distinct_keys": int(groups[0]),
        "udf": float(avg_half),
    }


def sink_readback(work: str, out_dir: str) -> tuple[int, int]:
    """(row count, value sum) of the parquet files a sink wrote."""
    con = _duck(work)
    n, s = con.execute(
        f"SELECT COUNT(*), SUM(value) FROM read_parquet('{out_dir}/*.parquet')"
    ).fetchone()
    con.close()
    return int(n), int(s or 0)


# ---------------------------------------------------------------------------
# batch_etl: the F1 canonical pipeline on a from_slice input
# ---------------------------------------------------------------------------


def slice_tokens(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` F1-style tokens: small ints, one in ten unparseable."""
    vals = rng.integers(-9, 21, n)
    bad = rng.random(n) < BAD_SHARE
    return [f"x{v}" if b else str(v) for v, b in zip(vals.tolist(), bad.tolist())]


def f1_closed_form(tokens: list[str]) -> tuple[int, int, int]:
    """(sum, parse errors, zero errors) of the F1 canonical chain,
    computed element by element in plain Python (pippin_test.go:26-124
    semantics). The two error counts are what the chain's two error
    sinks hand to ``on_error``."""
    total = parse_errors = zero_errors = 0
    for t in tokens:
        try:
            x = int(t)
        except ValueError:
            parse_errors += 1  # map_with_error: atoi failed
            continue
        if x % 2 == 0:
            continue
        y = 2 * x
        matrix = [y * i for i in range(y)] if y >= 0 else [42]
        for m in matrix:
            if m == 0:
                zero_errors += 1  # flat_map_with_error: plus_one(0) failed
                continue
            total += m + 1 if m + 1 > 42 else 0
    return total, parse_errors, zero_errors


# ---------------------------------------------------------------------------
# index_cycle
# ---------------------------------------------------------------------------


def _vec_column(v: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(v, dtype=np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, v.shape[1]).cast(pa.list_(pa.float32()))


def _write_parts(directory: str, table: pa.Table, parts: int) -> None:
    """Spread rows round-robin over ``parts`` files, the way a
    ``local[parts]`` Spark writer lays out a small frame."""
    os.makedirs(directory, exist_ok=True)
    idx = np.arange(table.num_rows)
    for p in range(parts):
        pq.write_table(table.take(pa.array(idx[p::parts])), f"{directory}/part-{p:05d}.parquet")


def write_vectors(work: str, n: int, n_queries: int, seed: int) -> dict:
    """Clustered vectors with product structure, plus query batches.

    Each of the PQ_M subspaces holds one of PQ_K seeded prototypes plus
    small noise; the first subspace is scaled up so it decides the
    CELLS clusters. A PQ_M x PQ_K product quantizer can represent such
    vectors, so probe recall is high and a recall drop is visible.
    The last 20% get a symmetric +-delta offset outside the prototype
    set: cell means stay put, quantization error grows, and the PQ
    drift gate fires after they are appended.
    """
    rng = np.random.default_rng(seed)
    sub = DIM // PQ_M
    protos = rng.standard_normal((PQ_M, PQ_K, sub))
    protos[0] *= 4.0

    def draw(count: int) -> np.ndarray:
        codes = rng.integers(0, PQ_K, (count, PQ_M))
        v = np.concatenate([protos[j][codes[:, j]] for j in range(PQ_M)], axis=1)
        return v + 0.05 * rng.standard_normal((count, DIM))

    X = draw(n)
    n_base = int(n * 0.8)
    delta = rng.standard_normal((n - n_base, DIM))
    delta *= 12.0 / np.linalg.norm(delta, axis=1)[:, None]
    X[n_base:] += np.where(rng.random(n - n_base) < 0.5, -1.0, 1.0)[:, None] * delta
    X = X.astype(np.float32)
    Q = draw(n_queries).astype(np.float32)

    ids = np.arange(n, dtype=np.int64)
    for name, sl in (("base", slice(0, n_base)), ("shifted", slice(n_base, n))):
        _write_parts(
            f"{work}/{name}",
            pa.table({"vec_id": pa.array(ids[sl]), "embedding": _vec_column(X[sl])}),
            PARTS,
        )
    _write_parts(
        f"{work}/queries",
        pa.table(
            {
                "query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
                "batch": pa.array(np.arange(n_queries) // QUERY_BATCH),
                "embedding": _vec_column(Q),
            }
        ),
        PARTS,
    )
    return {"vectors": X, "queries": Q}


def exact_top5(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Brute-force cosine top-5 ids (rows of X are ids 0..n-1)."""
    Xn = X / np.linalg.norm(X, axis=1)[:, None]
    Qn = Q / np.linalg.norm(Q, axis=1)[:, None]
    sims = Qn @ Xn.T
    top = np.argpartition(-sims, 5, axis=1)[:, :5]
    return np.take_along_axis(top, np.argsort(-np.take_along_axis(sims, top, 1), 1), 1)


def index_row_count(work: str, index_dir: str) -> int:
    con = _duck(work)
    n = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{index_dir}/assigned/**/*.parquet')"
    ).fetchone()[0]
    con.close()
    return int(n)
