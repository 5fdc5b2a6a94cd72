"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy driven by the workload seed, so the
same seed always yields the same inputs and the program under test only
ever sees the generated files. The shapes follow ``kgflow.schemas``
(transcripts, lexicon terms, is-a edges) and the TPC-H-like testdata
tables that the declared ``queries()`` read.
"""

from __future__ import annotations

import itertools
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_FILLER = (
    "the a and then we see it run check result from with into over under "
    "please tool call output state error retry done next step plan note "
    "model data batch row table key value file line code test case graph"
).split()
_HEADS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()
_TAILS = (
    "kinase receptor pathway factor domain complex channel ligase helicase "
    "synthase protease cyclase transporter repressor activator"
).split()
_NAMESPACES = ("biological_process", "molecular_function", "cellular_component")
_PREDICATES = ("is_a", "part_of", "regulates", "positively_regulates")
_ROLES = ("user", "assistant", "tool")
_TOOLS = (None, "search", "python", "browser", "editor")


def lexicon(n_terms: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(terms, isa_edges): unique multi-word surfaces, 0-2 synonyms per
    term, every 37th term obsolete, every 5th term with an alt_id (the
    same-as links canonicalization resolves), a random is-a tree."""
    rng = random.Random(seed)
    pairs = list(itertools.product(_HEADS, _TAILS))
    need = n_terms * 3
    phrases = [
        f"{h} {t}" if i < len(pairs) else f"{h} {t} {i // len(pairs)}"
        for i, (h, t) in enumerate(itertools.islice(itertools.cycle(pairs), need))
    ]
    rng.shuffle(phrases)
    pool = iter(phrases)
    terms = []
    for i in range(n_terms):
        name = next(pool)
        syns = [next(pool) for _ in range(rng.choice((0, 1, 1, 2)))]
        terms.append(
            {
                "term_id": f"KG:{i:07d}",
                "name": name,
                "namespace": _NAMESPACES[i % 3],
                "definition": f"definition of {name}",
                "synonyms": syns,
                "xrefs": [f"XR:{i:05d}"],
                "alt_ids": [f"ALT:{i:07d}"] if i % 5 == 0 else [],
                "is_obsolete": i % 37 == 13,
            }
        )
    edges = [
        {
            "subject_id": f"KG:{i:07d}",
            "predicate": rng.choice(_PREDICATES),
            "object_id": f"KG:{rng.randrange(i):07d}",
        }
        for i in range(1, n_terms)
    ]
    return pd.DataFrame(terms), pd.DataFrame(edges)


def surfaces(terms: pd.DataFrame) -> list[str]:
    return [s for row in terms.itertuples() for s in [row.name, *row.synonyms]]


def turn_text(rng: random.Random, surf: list[str], zipf_s: float = 3.0) -> str:
    """Filler words with Zipf-skewed term mentions (a few super-node
    terms) and near-miss negatives (a surface's first word alone)."""
    n_words = 8 + rng.randrange(40)
    out: list[str] = []
    while len(out) < n_words:
        r = rng.random()
        if r < 0.24:
            idx = min(int(len(surf) * rng.random() ** zipf_s), len(surf) - 1)
            words = surf[idx].split()
            out.extend(words if r < 0.18 else words[:1])
        else:
            out.append(rng.choice(_FILLER))
    return " ".join(out)


def transcripts(
    n_turns: int, n_convs: int, terms: pd.DataFrame, seed: int, conv_skew: float = 2.5
) -> pd.DataFrame:
    """One row per (conv_id, turn_idx); conversation lengths are
    long-tailed (``conv = n_convs * u**conv_skew``)."""
    rng = random.Random(seed)
    surf = surfaces(terms)
    convs = [
        min(int(n_convs * rng.random() ** conv_skew), n_convs - 1) for _ in range(n_turns)
    ]
    next_idx: dict[int, int] = {}
    rows = []
    base = pd.Timestamp("2025-01-01", tz="UTC")
    for rid, c in enumerate(convs):
        tidx = next_idx.get(c, 0)
        next_idx[c] = tidx + 1
        rows.append(
            (
                f"conv-{c:06d}",
                tidx,
                _ROLES[tidx % 3],
                turn_text(rng, surf),
                rng.choice(_TOOLS) if tidx % 3 == 2 else None,
                base + pd.Timedelta(seconds=rid * 7),
            )
        )
    out = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return out.astype({"turn_idx": "int32", "ts": "datetime64[us, UTC]"})


# --- TPC-H-like testdata for the declared queries -------------------------

# A vocabulary large enough that random documents rarely look alike: the
# near-duplicate work then comes from the planted copies, whatever the seed.
_DOC_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column big vector a"
).split() + [f"w{i:03d}" for i in range(270)]


def _write(table: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(table, preserve_index=False), path)


def testdata(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten testdata tables (one parquet file each) at about
    sf0.001; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_orders, n_line, n_events, n_docs = 1500, 6000, 1000, 500
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01")

    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["cold", "small", "large", "hot", "blue"], n_part),
                        rng.choice(["widget", "bolt", "gear", "valve"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
                "o_orderdate": (t0 + rng.integers(0, 2400, n_orders) * day).astype("datetime64[us]"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": (t0 + rng.integers(0, 2500, n_line) * day).astype("datetime64[us]"),
            }
        ),
    }
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ).astype("timedelta64[us]")
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, 15, n_events).astype(np.int64),
            "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_events),
            "value": np.round(rng.exponential(50, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = [
        " ".join(rng.choice(_DOC_WORDS, int(n))) for n in rng.integers(10, 100, n_docs)
    ]
    # plant near-duplicates (one word replaced) so the dedup operators
    # have clusters to find
    for i in range(0, n_docs, 10):
        words = texts[(i * 7 + 3) % n_docs].split()
        words[len(words) // 2] = str(rng.choice(_DOC_WORDS))
        texts[i] = " ".join(words)
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.6, size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}
