"""Seeded input generator for the FPM benchmark's workloads.

Writes one workload's table as a single parquet file in the engine's
table layout (``<out>/<table>.parquet``, naive µs timestamps like the
engine's test tables), so the measured process reads the inputs only
through the public basket builders in ``plans/transactions.py``.

Draws come from ``numpy.random.default_rng(seed)``, so one seed always
gives the same rows. The planted patterns of dense_skewed and
many_corpora come from a fixed generator instead: every seed then mines
the same itemsets and rules, and runs on different seeds do the same
work; the seed draws their noise, timestamps and row order.
Generation runs before any Spark session exists, so it costs no JVM
start and stays out of every timing.

Usage:
    python3 fpmbench/gen.py --workload dense_skewed --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Size parameters per workload; each workload's "why" in BENCHMARK.json
# summarises them, and the input cache is keyed on them.
SIZES = {
    # Each order draws 1..9 Zipf-1 parts over `parts`; a `bundle_share`
    # of orders also carries one of `bundles` planted co-purchase
    # bundles of 2..4 parts drawn from the ranks 50..500.
    "sparse_retail": {"orders": 6_000, "parts": 50_000, "bundles": 15,
                      "bundle_share": 0.5},
    # Each of `users` has a habit: one Zipf-skewed theme of
    # `theme_items` event types, each kept with p=0.75. Its basket on
    # each of 7 days is the habit plus `noise` Zipf-1 event types over
    # `types`.
    "dense_skewed": {"users": 250, "types": 2_000, "themes": 40,
                     "theme_items": 8, "noise": 2},
    # Docs fall into Zipf-sized `corpora`; each doc holds 8..20 Zipf-1
    # tokens over its corpus's own vocabulary of `vocab` words, plus
    # `noise` never-frequent tokens.
    "many_corpora": {"docs": 3_000, "corpora": 6, "vocab": 2_000, "noise": 2},
}

TABLES = {"sparse_retail": "lineitem", "dense_skewed": "events",
          "many_corpora": "documents"}


def _zipf(rng: np.random.Generator, n: int, size) -> np.ndarray:
    """Ranks in 1..n with P(r) ∝ log((r+1)/r): a Zipf-1 head and tail."""
    return np.floor(np.power(n + 1.0, rng.random(size))).astype(np.int64)


def sparse_retail(rng, orders, parts, bundles, bundle_share) -> pa.Table:
    lens = rng.integers(1, 10, orders)
    keys = [np.repeat(np.arange(orders), lens)]
    items = [_zipf(rng, parts, int(lens.sum()))]
    bundle_sizes = rng.integers(2, 5, bundles)
    bundle_items = [rng.integers(50, 501, k) for k in bundle_sizes]
    carriers = np.flatnonzero(rng.random(orders) < bundle_share)
    for o, b in zip(carriers, rng.integers(0, bundles, len(carriers))):
        keys.append(np.full(bundle_sizes[b], o))
        items.append(bundle_items[b])
    return pa.table({"l_orderkey": np.concatenate(keys),
                     "l_partkey": np.concatenate(items)})


def dense_skewed(rng, users, types, themes, theme_items, noise) -> pa.Table:
    # The planted habits come from a fixed generator, not from the seed:
    # every seed mines the same theme itemsets and rules, so the work per
    # run stays comparable across seeds. The seed draws the noise events
    # and the timestamps.
    plant = np.random.default_rng(0)
    theme_of = _zipf(plant, themes, users) - 1
    habit = plant.random((users, theme_items)) < 0.75
    baskets = users * 7
    b_theme, k_theme = np.nonzero(habit[np.arange(baskets) // 7])
    # Theme event types sit above the noise alphabet, so noise never
    # blends into a theme's supports.
    e_theme = types + 1 + theme_of[b_theme // 7] * theme_items + k_theme
    b_noise = np.repeat(np.arange(baskets), noise)
    e_noise = _zipf(rng, types, len(b_noise))
    b = np.concatenate([b_theme, b_noise])
    e = np.concatenate([e_theme, e_noise])
    # basket b is user b // 7 on day b % 7 of 2024-01-01 .. 2024-01-07
    ts_s = 1_704_067_200 + (b % 7) * 86_400 + rng.integers(0, 86_400, len(b))
    return pa.table({
        "event_id": np.arange(len(b), dtype=np.int64),
        "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us")),
        "user_id": b // 7,
        "event_type": pa.array([f"e{x}" for x in e.tolist()], pa.string()),
    })


def many_corpora(rng, docs, corpora, vocab, noise) -> pa.Table:
    # As in dense_skewed, the planted corpora and their Zipf tokens come
    # from a fixed generator, so every seed mines the same per-corpus
    # itemsets. The seed draws `noise` tokens per doc from a vocabulary
    # too large for any of them to be frequent, and the doc order.
    plant = np.random.default_rng(0)
    corpus = _zipf(plant, corpora, docs)
    lens = plant.integers(8, 21, docs)
    toks = _zipf(plant, vocab, int(lens.sum())).tolist()
    junk = rng.integers(0, 1_000_000, (docs, noise)).tolist()
    order = rng.permutation(docs).tolist()
    starts = np.concatenate([[0], np.cumsum(lens)]).tolist()
    text, lang = [], []
    for d in order:
        c = int(corpus[d])
        words = [f"w{c}_{t}" for t in toks[starts[d]:starts[d + 1]]]
        words += [f"n{j}" for j in junk[d]]
        text.append(" ".join(words))
        lang.append(f"l{c:02d}")
    return pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })


def generate(workload: str, seed: int, out: pathlib.Path) -> dict:
    """Write ``workload``'s table for ``seed`` under ``out``; return its stats."""
    maker = {"sparse_retail": sparse_retail, "dense_skewed": dense_skewed,
             "many_corpora": many_corpora}[workload]
    table = maker(np.random.default_rng(seed), **SIZES[workload])
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, out / f"{TABLES[workload]}.parquet")
    stats = {"workload": workload, "seed": seed, "table": TABLES[workload],
             "rows": table.num_rows, "sizes": SIZES[workload]}
    # Written last: a cache entry without it is incomplete.
    (out / "meta.json").write_text(json.dumps(stats, sort_keys=True))
    return stats


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, pathlib.Path(args.out))))


if __name__ == "__main__":
    main()
