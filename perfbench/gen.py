"""Seeded input generator for the layered benchmark.

Two kinds of input, both pure functions of their seeds:

- **Tables** (``make_tables``): the ten TPC-H-ish tables the query
  registry reads (``region`` … ``embeddings``) at a given scale factor,
  one-row-group parquet files. They are the testdata that the tests and
  ``bench.py`` read (TESTDATA.md: seed 42), value for value: the same
  numpy draws in the same order, so the benchmark needs no data from
  outside its checkout and its figures compare with ``bench.py``'s.
  ``make_sf1`` builds the sf1 point from sf0.1 with the repository's
  ``tools/make_sf1.py`` (ten key-shifted replicas).
- **Run inputs** (``query_order``, ``price_requests``): drawn from the
  run's ``--seed`` — the per-pass query order and the ``GET /price``
  request mix, including the blanked-required-field share that
  exercises the 400 path.

The tables are built once per directory and reused: a directory is
published by an atomic rename, so a half-written one is never read.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the table contents; the run seed varies order and requests
DATA_SEED = 42

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring")
PART_TYPES = ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")  # 3/7 English
WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
EMBED_DIM = 64

def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(np.int64))
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _table_arrays(sf: float, rng) -> dict[str, dict[str, pa.Array]]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def pick(choices, n, p=None):
        return np.asarray(choices, dtype=object)[
            rng.choice(len(choices), n, p=p)
        ]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(pick(SEGMENTS, n_cust)),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(
            pick(PART_ADJ, n_part) + " " + pick(PART_NOUN, n_part)
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(pick(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
        ),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(pick(tuple("OFP"), n_ord)),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
        "o_orderdate": pa.array(
            _days("1995-01-01", "2001-08-01", n_ord, rng).astype("datetime64[us]")
        ),
        "o_orderpriority": pa.array(pick(PRIORITIES, n_ord)),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(money(900, 105_000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(pick(tuple("RAN"), n_line)),
        "l_linestatus": pa.array(pick(tuple("OF"), n_line)),
        "l_shipdate": pa.array(
            _days("1995-01-02", "2001-11-04", n_line, rng).astype(
                "datetime64[us]"
            )
        ),
    }
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(
            np.sort(
                np.datetime64("2024-01-01", "us")
                # ns offsets over 30 days, truncated to µs
                + (rng.random(n_ev) * (30 * 86_400) * 1e9).astype(np.int64) // 1000
            )
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(pick(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    }
    texts = [
        " ".join(pick(WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(pick(LANGS, n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(s) for s in texts], i64),
    }
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    }
    return t


def _publish(out_dir: str, build) -> str:
    """Run ``build(tmp_dir)`` and rename the result to ``out_dir``
    unless a finished copy is already there."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        # in a child process, so the generator's memory stays out of
        # the benchmark process's peak RSS
        child = multiprocessing.get_context("fork").Process(target=build, args=(tmp,))
        child.start()
        child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"building {out_dir} failed (exit {child.exitcode})")
        os.rename(tmp, out_dir)
    except OSError:
        if not os.path.isdir(out_dir):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


def make_tables(root: str, sf: float) -> str:
    """The ten tables at scale ``sf`` under ``root/sf<sf>``; built once."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng(DATA_SEED)
        for name, cols in _table_arrays(sf, rng).items():
            pq.write_table(
                pa.table(cols),
                os.path.join(tmp, f"{name}.parquet"),
                row_group_size=1 << 30,
            )

    return _publish(os.path.join(root, f"sf{sf:g}"), build)


def make_sf1(root: str, repo: str, base_sf: float = 0.1) -> str:
    """``base_sf`` × 10 (sf1 from sf0.1) by ``tools/make_sf1.py``:
    ten replicas with disjoint key ranges."""
    src = make_tables(root, base_sf)

    def build(tmp: str) -> None:
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_sf1.py"), tmp, src],
            check=True,
            stdout=subprocess.DEVNULL,
        )

    return _publish(os.path.join(root, f"x10_sf{base_sf:g}"), build)


def query_order(names: list[str], seed: int) -> list[str]:
    """The per-pass query order: a seeded permutation of ``names``."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def price_requests(
    sf_dir: str, seed: int, n: int, blank_share: float = 0.05
) -> list[dict]:
    """``n`` ``GET /price`` request bodies drawn by ``seed`` from the
    requests table (customer ⋈ nation ⋈ region, as the registry's
    request stand-in derives it). A ``blank_share`` of them has one
    required field set to None — the reference's 400 path."""
    cust = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"),
        columns=["c_custkey", "c_name", "c_nationkey"],
    ).to_pydict()
    nation_region = dict(
        zip(
            *pq.read_table(
                os.path.join(sf_dir, "nation.parquet"),
                columns=["n_nationkey", "n_regionkey"],
            ).to_pydict().values()
        )
    )
    region_name = dict(
        zip(*pq.read_table(os.path.join(sf_dir, "region.parquet")).to_pydict().values())
    )
    rnd = random.Random(seed)
    fields = ("libelle_region", "nom_commune", "code_commune", "nb_personne", "nb_m2")
    out = []
    for _ in range(n):
        i = rnd.randrange(len(cust["c_custkey"]))
        key = cust["c_custkey"][i]
        req = {
            "libelle_region": region_name[nation_region[cust["c_nationkey"][i]]],
            "nom_commune": cust["c_name"][i],
            "code_commune": str(key),
            "nb_personne": 1 + key % 5,
            "nb_m2": 50 + (key % 10) * 15,
        }
        if rnd.random() < blank_share:
            req[rnd.choice(fields)] = None
        out.append(req)
    return out
