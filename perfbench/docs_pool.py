"""Seeded ``documents`` tables for the dedup workload.

The table has the shape of the contract's ``documents.parquet``
(``doc_id, text, lang, source, n_chars``): texts drawn from a
31-word vocabulary, five languages, twenty sources, about 5% planted
near-duplicates (an existing text plus ``" dup"``) and a few exact
duplicates.

Every dedup query's predicate is pairwise (a Jaccard or Hamming bound
on two documents), so the all-pairs answer on a subset of a pool is
the pool's all-pairs answer restricted to that subset.  The pool is
fixed (``POOL_SEED``) and its oracle pairs are computed once by
``make_oracle.py``; a workload seed picks which pool rows form the
input, their ``doc_id`` labels and their row order.  Every input holds
all of the pool's exact-duplicate groups: whether one is present
changes the dedup plans' shape (about a dozen Spark jobs per pass), so
leaving it to the seed would make the pass time depend on the seed.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter
from typing import Dict, List

POOL_SEED = 20261017
POOL_SIZE = 1600

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_WEIGHTS = [41, 15, 15, 15, 14]


def pool_rows(n: int = POOL_SIZE, seed: int = POOL_SEED) -> List[Dict]:
    """The fixed pool: ``n`` rows indexed 0..n-1 (index = pool id)."""
    rng = random.Random(seed)
    rows: List[Dict] = []
    for i in range(n):
        r = rng.random()
        if rows and r < 0.05:
            src = rows[rng.randrange(len(rows))]
            text, lang = src["text"] + " dup", src["lang"]
        elif rows and r < 0.052:
            src = rows[rng.randrange(len(rows))]
            text, lang = src["text"], src["lang"]
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(8, 100))]
            text = " ".join(words)
            lang = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=1)[0]
        rows.append({"text": text, "lang": lang,
                     "source": f"src{rng.randrange(20)}"})
    return rows


def pool_digest(rows: List[Dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r['lang']}\t{r['source']}\t{r['text']}\n".encode())
    return h.hexdigest()


def sample(seed: int, n: int, pool: List[Dict]):
    """(table rows, doc_id → pool id) for one workload seed: the pool's
    exact-duplicate rows plus pool rows chosen by the seed, ``n`` in
    all, relabelled with seeded distinct ids and shuffled."""
    rng = random.Random(seed)
    copies = Counter(r["text"] for r in pool)
    forced = [i for i, r in enumerate(pool) if copies[r["text"]] > 1]
    rest = [i for i, r in enumerate(pool) if copies[r["text"]] == 1]
    picked = forced + rng.sample(rest, n - len(forced))
    rng.shuffle(picked)
    labels = rng.sample(range(10 * len(pool)), n)
    table, to_pool = [], {}
    for pid, doc_id in zip(picked, labels):
        r = pool[pid]
        table.append({"doc_id": doc_id, "text": r["text"], "lang": r["lang"],
                      "source": r["source"], "n_chars": len(r["text"])})
        to_pool[doc_id] = pid
    return table, to_pool
