"""Fixed synthetic corpus for the query workloads, plus its oracle hashes.

The corpus mirrors the sf0.1 shapes the engine's registered queries were
written against (2,000 unit-norm 64-d embeddings, ~600k lineitem rows
over 150k orders and 20k parts). It is generated from a fixed internal
seed, so it is the same for every ``--seed``: the workload seed only
orders the operations. Generation runs once per checkout and is cached
under a stamp of this file's source, outside every timed phase.

DuckDB oracle value hashes are a pure function of (corpus, oracle SQL),
so they are cached next to the corpus keyed by the SQL text's digest.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240601
N_EMBEDDINGS = 2_000
EMB_DIM = 64
#: share of vectors that are planted as perturbed copies of another
#: vector, so the dedup queries find real near-duplicate groups
EMB_DUP_SHARE = 0.02
N_ORDERS = 150_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_LINEITEMS = 600_000

TABLES = ("embeddings", "lineitem")


def _stamp() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:16]


def _embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_EMBEDDINGS, EMB_DIM)).astype(np.float32)
    n_dup = int(N_EMBEDDINGS * EMB_DUP_SHARE)
    dst = rng.choice(N_EMBEDDINGS, size=n_dup, replace=False)
    src = rng.integers(0, N_EMBEDDINGS, size=n_dup)
    noise = rng.standard_normal((n_dup, EMB_DIM)).astype(np.float32) * 0.15
    x[dst] = x[src] + noise
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.array(list(x), type=pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEMS
    order = rng.integers(0, N_ORDERS, n)
    part = rng.integers(0, N_PARTS, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + (part % 1000) / 10.0) * rng.uniform(0.9, 1.1, n), 2)
    days = rng.integers(0, 2500, n)
    ship = np.datetime64("1995-01-02", "us") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(order.astype(np.int64)),
            "l_partkey": pa.array(part.astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship),
        }
    )


def ensure_corpus(cache_dir: Path) -> Path:
    """Reuse the corpus under ``cache_dir`` or build it in a child process,
    so generation leaves no trace in the benchmark process's memory."""
    out = cache_dir / "corpus"
    stamp = out / "_STAMP"
    if not (stamp.exists() and stamp.read_text() == _stamp()):
        subprocess.run([sys.executable, __file__, str(out)], check=True)
    return out


def build_corpus(out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for p in out.iterdir():
        p.unlink()
    rng = np.random.default_rng(CORPUS_SEED)
    for name, build in (("embeddings", _embeddings), ("lineitem", _lineitem)):
        pq.write_table(build(rng), out / f"{name}.parquet")
    (out / "_STAMP").write_text(_stamp())


def oracle_hashes(corpus_dir: Path, oracles: dict[str, str], names: list[str]) -> dict[str, str]:
    """Order-insensitive value hash of each named oracle's DuckDB result
    over the corpus files; cached per oracle SQL digest."""
    import duckdb

    from checks import value_hash

    cache_path = corpus_dir / "_ORACLE_HASHES.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    out, con = {}, None
    for name in names:
        key = f"{name}:{hashlib.sha256(oracles[name].encode()).hexdigest()[:16]}"
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir / t}.parquet')"
                    )
            cache[key] = value_hash(con.execute(oracles[name]).fetchdf())
        out[name] = cache[key]
    if con is not None:
        con.close()
        cache_path.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return out


if __name__ == "__main__":
    build_corpus(Path(sys.argv[1]))
