"""The two workloads.  Each makes its inputs from the seed, runs one
pass of the program's public API per call, and checks a pass's output
against a reference computed outside the timed region.

* ``extract_corpus_hostile`` — ``sources.corpus`` pages (2% DOCX) and
  one seeded hostile page per class through
  ``plans.checkpoint.run_extraction_checkpointed`` into a fresh
  directory, then a zero-work resume of the same run;
* ``dedup_pairs`` — ``minhash_near_dups``, ``simhash_near_dups`` and
  ``ngram_jaccard`` from ``queries()``, cache cleared between queries.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from typing import Dict, List

import docs_pool
import hostile

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_FILE = os.path.join(HERE, "oracle_pairs.json")

# the bench.py page mix (2% DOCX), scaled so a run fits its time budget
CORPUS_PAGES = 200
DOCX_FRACTION = 0.02
# several part files, so the scan spreads over both cores
PAGE_FILES = 8
# one commit group for all 16 buckets: a pass is one extraction job
# chain plus its progress commit, not four
CHECKPOINT_BUCKETS = 16
DEDUP_DOCS = 1000
DEDUP_QUERIES = ("minhash_near_dups", "simhash_near_dups", "ngram_jaccard")
_PAIR_VALUE = {"minhash_near_dups": "jaccard", "simhash_near_dups": "hamming",
               "ngram_jaccard": "jaccard"}


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _digest_exprs():
    """Order-free digest of (url, status, fingerprint) rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64("url", "status", "fingerprint")
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(h, F.lit(2147483647))).alias("s"),
            F.bit_xor(h).alias("x")]


def _digest_tuple(row) -> tuple:
    return (int(row["n"]), int(row["s"] or 0), int(row["x"] or 0))


def _write_pages(path: str, rows: List[Dict], files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = (len(rows) + files - 1) // files
    for i in range(files):
        chunk = rows[i * per:(i + 1) * per]
        if chunk:
            pq.write_table(pa.table({
                "url": pa.array([r["url"] for r in chunk], pa.string()),
                "html": pa.array([r["html"] for r in chunk], pa.binary()),
            }), os.path.join(path, f"part-{i:04d}.parquet"),
                row_group_size=256)


class Workload:
    name = ""
    nominal_pass_s = 1.0   # sets the timed pass count from --seconds
    min_timed = 2
    warmup_passes = 0
    docs = 0               # input documents per pass

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.sources: Dict[str, float] = {}
        self.facts: Dict = {}

    def timed_passes(self, seconds: float) -> int:
        return max(self.min_timed, round(seconds / self.nominal_pass_s))

    @property
    def units(self) -> int:
        """Checked units per pass: one per input document."""
        return self.docs


class ExtractCorpusHostile(Workload):
    name = "extract_corpus_hostile"
    nominal_pass_s = 5.0
    # wall and CPU per pass keep falling until the third warm pass
    # (JIT, Python workers); two untimed passes skip that slope
    warmup_passes = 2

    def prepare(self, spark) -> None:
        from webpeel_spark.sources.corpus import generate_rows

        t = time.perf_counter()
        corpus = generate_rows(CORPUS_PAGES, seed=self.seed,
                               docx_fraction=DOCX_FRACTION)
        self.hostile = hostile.hostile_rows(self.seed)
        self.rows = corpus + self.hostile
        self.path = os.path.join(self.work, "pages")
        _write_pages(self.path, self.rows, PAGE_FILES)
        self.docs = len(self.rows)
        self.sources = {"gen_s": time.perf_counter() - t,
                        "input_mb": dir_mb(self.path)}
        self.pages = spark.read.parquet(self.path)
        self.facts = {"pages": self.docs,
                      "docx_pages": len(corpus) - CORPUS_PAGES,
                      "hostile_pages": {c: n for c, (n, _) in
                                        hostile.CLASS_SIZES.items()},
                      "input_mb": self.sources["input_mb"]}

    def run_pass(self, spark, tag: str, clock) -> dict:
        from webpeel_spark.plans.checkpoint import run_extraction_checkpointed

        out_dir = os.path.join(self.work, "out", tag)
        shutil.rmtree(out_dir, ignore_errors=True)

        def run():
            return run_extraction_checkpointed(
                spark, self.pages, out_dir, run_id=f"perfbench-{tag}",
                num_buckets=CHECKPOINT_BUCKETS,
                buckets_per_commit=CHECKPOINT_BUCKETS, num_partitions=4)

        with clock.op("checkpoint.write") as w:
            first = run()
        with clock.op("checkpoint.resume") as r:
            again = run()
        return {"out_dir": out_dir, "rows": first["rows"],
                "redone": len(again["processed_buckets"]),
                "write_s": w["wall_s"], "resume_s": r["wall_s"]}

    def reference(self, spark, tracer, parent, layers: bool) -> tuple:
        """Digest of every page through ``extract_page`` in this process."""
        import tracing

        self.replayed = tracing.replay(
            [(r["url"], r["html"]) for r in self.rows], tracer, parent, layers)
        df = spark.createDataFrame(self.replayed["rows"],
                                   "url string, status string, "
                                   "fingerprint string")
        return _digest_tuple(df.agg(*_digest_exprs()).first())

    def check_pass(self, spark, out: dict, ref_digest: tuple) -> dict:
        """Read the pass's output table back: its digest must equal the
        reference, and the resume must have redone no bucket."""
        from pyspark.sql import functions as F

        data = os.path.join(out["out_dir"], "data")
        row = spark.read.parquet(data).agg(
            *_digest_exprs(),
            F.count_if(F.col("status") == "error").alias("errors")).first()
        got, errors = _digest_tuple(row), int(row["errors"])
        out["written_mb"] = dir_mb(data)
        shutil.rmtree(out["out_dir"], ignore_errors=True)
        problems = []
        if got != ref_digest:
            problems.append(f"digest {got} != reference {ref_digest}")
        if out["redone"]:
            problems.append(f"resume redid {out['redone']} buckets")
        missing = max(0, self.docs - got[0])
        failed = self.docs if problems else errors + missing
        return {"failed": failed, "error_rows": errors, "missing": missing,
                "problems": problems}

    def class_report(self) -> Dict[str, dict]:
        """Per hostile class: pages, single-core seconds per page in the
        reference replay, and the error classes of its error rows."""
        cls_of = {r["url"]: r["cls"] for r in self.hostile}
        out = {c: {"pages": n, "page_s": 0.0, "errors": {}}
               for c, (n, _) in hostile.CLASS_SIZES.items()}
        for (url, _, _), secs, err in zip(self.replayed["rows"],
                                          self.replayed["page_s"],
                                          self.replayed["errors"]):
            c = cls_of.get(url)
            if c is None:
                continue
            out[c]["page_s"] += secs / out[c]["pages"]
            if err is not None:
                out[c]["errors"][err] = out[c]["errors"].get(err, 0) + 1
        return out


def _pair_key(a: int, b: int, v) -> tuple:
    lo, hi = (a, b) if a < b else (b, a)
    return (lo, hi, round(float(v), 4))


def pairs_digest(pairs) -> str:
    return hashlib.sha256(json.dumps(sorted(pairs)).encode()).hexdigest()[:16]


class DedupPairs(Workload):
    name = "dedup_pairs"
    nominal_pass_s = 8.0
    # no warm-up pass: one (~10 s) narrowed the spread of pass_s_p50
    # over seeds only from about 0.10 to 0.06 of the median, and a run
    # must stay near a minute for the whole benchmark to fit its budget
    docs = DEDUP_DOCS

    def prepare(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        with open(ORACLE_FILE) as fh:
            self.oracle = json.load(fh)
        t = time.perf_counter()
        pool = docs_pool.pool_rows(self.oracle["pool_size"],
                                   self.oracle["pool_seed"])
        if docs_pool.pool_digest(pool) != self.oracle["pool_sha256"]:
            raise RuntimeError("docs pool differs from the one "
                               f"{ORACLE_FILE} was computed on; rerun: "
                               f"{self.oracle['command']}")
        self.table, self.to_pool = docs_pool.sample(self.seed, DEDUP_DOCS, pool)
        self.sf_dir = os.path.join(self.work, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.table, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()),
            ("lang", pa.string()), ("source", pa.string()),
            ("n_chars", pa.int64())])),
            os.path.join(self.sf_dir, "documents.parquet"))
        self.sources = {"gen_s": time.perf_counter() - t,
                        "input_mb": dir_mb(self.sf_dir)}
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.facts = {"docs": DEDUP_DOCS, "pool_docs": len(pool),
                      "input_mb": self.sources["input_mb"]}

    def run_pass(self, spark, tag: str, clock) -> dict:
        out = {}
        for q in DEDUP_QUERIES:
            with clock.op(f"dedup.{q}") as op:
                rows = self.queries[q](spark, self.sf_dir).collect()
                op["persisted"] = spark.sparkContext._jsc \
                    .getPersistentRDDs().size()
            spark.catalog.clearCache()
            col = _PAIR_VALUE[q]
            out[q] = [(int(r["id_a"]), int(r["id_b"]), r[col]) for r in rows]
        return out

    @property
    def units(self) -> int:
        """Checked units per pass: one per dedup query."""
        return len(DEDUP_QUERIES)

    def reference(self, spark, tracer, parent, layers: bool) -> Dict[str, set]:
        """Oracle pairs in pool ids: minhash and ngram from the stored
        pool oracle restricted to this input, simhash from a live
        DuckDB run of ``oracle_sql()`` on this input."""
        import duckdb
        import pyarrow as pa
        import __spark_entry__

        chosen = set(self.to_pool.values())
        exp = {}
        for q in ("minhash_near_dups", "ngram_jaccard"):
            exp[q] = {_pair_key(a, b, v)
                      for a, b, v in self.oracle["queries"][q]
                      if a in chosen and b in chosen}
        con = duckdb.connect()
        try:
            con.register("documents", pa.Table.from_pylist(self.table))
            live = con.execute(
                __spark_entry__.oracle_sql()["simhash_near_dups"]).fetchall()
        finally:
            con.close()
        exp["simhash_near_dups"] = {
            _pair_key(self.to_pool[a], self.to_pool[b], v) for a, b, v in live}
        return exp

    def check_pass(self, spark, out: dict, expected: Dict[str, set]) -> dict:
        failed, problems, digests = 0, [], {}
        for q in DEDUP_QUERIES:
            got = [_pair_key(self.to_pool[a], self.to_pool[b], v)
                   for a, b, v in out[q]]
            digests[q] = pairs_digest(got)
            if len(got) != len(set(got)) or set(got) != expected[q]:
                failed += 1
                problems.append(f"{q}: {len(got)} pairs, oracle "
                                f"{len(expected[q])}, digest {digests[q]} != "
                                f"{pairs_digest(expected[q])}")
        return {"failed": failed, "problems": problems, "digests": digests,
                "pairs": {q: len(out[q]) for q in DEDUP_QUERIES}}


WORKLOADS = {w.name: w for w in (ExtractCorpusHostile, DedupPairs)}
