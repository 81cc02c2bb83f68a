"""The workloads: their generated inputs, job lists, output checks,
and the prefix ladders and counts of the traced run.

Every call into the program goes through a module attribute
(``tables.read_text_dir``, ``dedup.minhash_dedup_pairs``, ...) so that
the traced run can span it from outside the package.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from mapreduce_implementation_spark.operators import caching, dedup, similarity, sort, text, textstats
from mapreduce_implementation_spark.sources import sinks, tables


class CheckFailed(Exception):
    pass


@dataclass
class Job:
    name: str
    build: Callable[[], DataFrame]
    sink: Callable[[DataFrame, str], None]
    check: Callable[[str], None] | None = None  # raises CheckFailed


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn: Callable[[], object]) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def output_files(out: str) -> list[str]:
    return sorted(p for p in glob.glob(os.path.join(out, "part-*"))
                  if not p.endswith(".crc"))


def _rungs(rungs: dict[str, Callable[[], None]], rounds: int = 1) -> dict[str, float]:
    """Median time of each rung of a prefix ladder, releasing its caches
    after each; the rounds go over all rungs in turn, so a drift in the
    machine's speed falls on every rung alike."""
    times: dict[str, list[float]] = {k: [] for k in rungs}
    for _ in range(rounds):
        for k, fn in rungs.items():
            times[k].append(timed(fn))
            caching.release_persisted()
    return {k: float(np.median(v)) for k, v in times.items()}


class Workload:
    name = ""
    nominal_pass_s = 1.0  # one pass on the reference 4-core box; sets passes per run
    spanned: list[tuple[object, str]] = []  # (module, function) the traced run spans

    def __init__(self, work: str, seed: int, small: bool):
        self.work = work
        self.input_bytes = 0

    def jobs(self, spark: SparkSession) -> list[Job]:
        raise NotImplementedError

    def ladder(self, spark: SparkSession) -> dict[str, float]:
        raise NotImplementedError

    def counts(self, spark: SparkSession) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------


def _lines(out: str) -> list[str]:
    rows: list[str] = []
    for p in output_files(out):
        with open(p) as f:
            rows.extend(f.read().splitlines())
    return rows


class MrWordcountSort(Workload):
    name = "mr_wordcount_sort"
    nominal_pass_s = 3.5
    spanned = [(tables, "read_text_dir"), (tables, "read_int_lines"), (text, "tokenize"),
               (text, "word_count"), (sort, "distributed_sort"), (sinks, "write_text")]

    def __init__(self, work: str, seed: int, small: bool):
        super().__init__(work, seed, small)
        self.text_dir = os.path.join(work, "text")
        self.int_dir = os.path.join(work, "ints")
        self.text = gen.make_text(self.text_dir, seed, 100_000 if small else 1_500_000)
        self.ints = gen.make_ints(self.int_dir, seed, 100_000 if small else 2_000_000)
        self.input_bytes = self.text["bytes"] + self.ints["bytes"]

    def _wc(self, spark):
        counts = text.word_count(tables.read_text_dir(spark, self.text_dir))
        return counts.select(F.concat_ws(",", "word", "cnt").alias("value"))

    def _sort(self, spark):
        ints = tables.read_int_lines(spark, self.int_dir)
        return sort.distributed_sort(ints, "n").select(F.col("n").cast("string").alias("value"))

    def jobs(self, spark):
        write = lambda df, out: sinks.write_text(df, out)  # noqa: E731
        return [Job("word_count", lambda: self._wc(spark), write, self._check_wc),
                Job("sort", lambda: self._sort(spark), write, self._check_sort)]

    def _check_wc(self, out: str) -> None:
        got, prev = {}, None
        for line in _lines(out):
            word, cnt = line.rsplit(",", 1)
            key = (int(cnt), word)
            if prev is not None and key > prev:
                raise CheckFailed(f"word count not ordered at {line!r}")
            prev = key
            got[word] = int(cnt)
        if got != self.text["counts"]:
            raise CheckFailed(f"word counts differ: {len(got)} words, "
                              f"expected {len(self.text['counts'])}")

    def _check_sort(self, out: str) -> None:
        vals = np.array(_lines(out), dtype=np.int64)
        if len(vals) != self.ints["rows"]:
            raise CheckFailed(f"sort output has {len(vals)} ints, expected {self.ints['rows']}")
        if np.any(np.diff(vals) < 0):
            raise CheckFailed("sort output is not globally ordered")
        if (int(vals.sum()) != self.ints["sum"]
                or int((vals.astype(np.uint64) ** 2).sum()) != self.ints["sum_sq"]):
            raise CheckFailed("sort output checksum differs from the input's")

    def ladder(self, spark):
        """Prefix ladders: scan -> +tokenize -> +word_count -> +sink, and
        scan -> +distributed_sort -> +sink."""
        out = os.path.join(self.work, "ladder")
        t = _rungs({
            "scan_text": lambda: noop(tables.read_text_dir(spark, self.text_dir)),
            "tokenize": lambda: noop(text.tokenize(tables.read_text_dir(spark, self.text_dir))),
            "word_count": lambda: noop(self._wc(spark)),
            "wc_sink": lambda: sinks.write_text(self._wc(spark), out),
            "scan_ints": lambda: noop(tables.read_int_lines(spark, self.int_dir)),
            "sort": lambda: noop(self._sort(spark)),
            "sort_sink": lambda: sinks.write_text(self._sort(spark), out),
        }, rounds=3)  # sub-second rungs: one round left some differences below 0
        return {
            "sources.scan_s": t["scan_text"] + t["scan_ints"],
            "functions.tokenize_s": t["tokenize"] - t["scan_text"],
            "operators.text.word_count_s": t["word_count"] - t["tokenize"],
            "operators.sort.sort_s": t["sort"] - t["scan_ints"],
            "sinks.write_s": (t["wc_sink"] - t["word_count"]) + (t["sort_sink"] - t["sort"]),
        }


# --------------------------------------------------------------------------

QUALITY_MIN = 0.5
MIN_JACCARD = 0.6
MIN_COSINE = 0.9
LSH_BITS, LSH_TABLES = 10, 8
RECALL_FLOOR = 0.9


class CurationDedup(Workload):
    name = "curation_dedup"
    nominal_pass_s = 7.0
    spanned = [(tables, "load_table"), (textstats, "quality_score"),
               (dedup, "char_shingles"), (dedup, "minhash_signatures"),
               (dedup, "lsh_candidate_pairs"), (dedup, "minhash_dedup_pairs"),
               (dedup, "embedding_near_dup_pairs_lsh"), (similarity, "hyperplane_bucket_keys"),
               (dedup, "cluster_representatives"), (dedup, "tracked_persist"),
               (sinks, "write_parquet")]

    def __init__(self, work: str, seed: int, small: bool):
        super().__init__(work, seed, small)
        self.dir = os.path.join(work, "curation")
        # the warm-up pass runs at full size as well: a pass costs the same
        # at any size here (it is fixed overhead), and a smaller warm-up
        # leaves the measured passes on the JVM's warm-up curve
        self.data = gen.make_curation(self.dir, seed, 1000, dup_share=0.1)
        self.input_bytes = self.data["bytes"]

    def _good(self, spark):
        docs = tables.load_table(spark, self.dir, "documents")
        q = (textstats.quality_score(docs, "doc_id", "text")
             .filter(F.col("quality_score") >= QUALITY_MIN)
             .select("doc_id", "quality_score"))
        return docs.join(q, "doc_id")

    def _good_emb(self, spark, good):
        return (tables.load_table(spark, self.dir, "embeddings")
                .join(good.select(F.col("doc_id").alias("vec_id")), "vec_id"))

    def _text_pairs(self, good):
        return dedup.minhash_dedup_pairs(good, "doc_id", "text", min_jaccard=MIN_JACCARD)

    def _emb_pairs(self, emb):
        return dedup.embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", dim=self.data["dim"], min_cosine=MIN_COSINE,
            bits=LSH_BITS, tables=LSH_TABLES)

    def _survivors(self, spark):
        good = self._good(spark)
        pairs = (self._text_pairs(good).select("a", "b")
                 .union(self._emb_pairs(self._good_emb(spark, good)).select("a", "b"))
                 .distinct())
        reps = dedup.cluster_representatives(good, pairs, "doc_id", "quality_score")
        return (good.join(reps, "doc_id", "left_semi")
                .select("doc_id", "text", "source", "quality_score"))

    def jobs(self, spark):
        return [Job("curate", lambda: self._survivors(spark),
                    lambda df, out: sinks.write_parquet(df, out), self._check)]

    def _check(self, out: str) -> None:
        kept = set(pq.read_table(out, columns=["doc_id"]).column(0).to_pylist())
        low = set(self.data["low_quality_ids"])
        if kept & low:
            raise CheckFailed(f"{len(kept & low)} low-quality documents survived")
        in_pair = {x for p in self.data["planted"] for x in p}
        lost = set(range(self.data["rows"])) - low - in_pair - kept
        if lost:
            raise CheckFailed(f"{len(lost)} unique documents were dropped")
        one = sum(((a in kept) + (b in kept)) == 1 for a, b in self.data["planted"])
        none = sum(a not in kept and b not in kept for a, b in self.data["planted"])
        if none:
            raise CheckFailed(f"{none} planted clusters lost every member")
        if one < RECALL_FLOOR * len(self.data["planted"]):
            raise CheckFailed(f"dedup recall {one}/{len(self.data['planted'])} "
                              f"is under the floor {RECALL_FLOOR}")

    def ladder(self, spark):
        """Prefix ladders: scan -> +quality -> +signatures -> +MinHash pairs;
        scan -> +quality -> +bucket keys; survivors -> +sink."""
        out = os.path.join(self.work, "ladder")

        def sig():
            good = self._good(spark)
            sh = dedup.char_shingles(good, "doc_id", "text", k=9, distinct=False)
            return dedup.minhash_signatures(sh, "doc_id", as_array=True)

        def buckets():
            emb = self._good_emb(spark, self._good(spark))
            return similarity.hyperplane_bucket_keys(
                emb, "embedding", self.data["dim"], bits=LSH_BITS, tables=LSH_TABLES)

        t = _rungs({
            "scan": lambda: (noop(tables.load_table(spark, self.dir, "documents")),
                             noop(tables.load_table(spark, self.dir, "embeddings"))),
            "quality": lambda: noop(self._good(spark)),
            "signatures": lambda: noop(sig()),
            "text_pairs": lambda: noop(self._text_pairs(self._good(spark))),
            "emb_quality": lambda: noop(self._good_emb(spark, self._good(spark))),
            "buckets": lambda: noop(buckets()),
        })
        # the sink rung runs on the materialized survivors: recomputing the
        # whole pipeline for it and for its noop twin would double the cost
        survivors = self._survivors(spark).localCheckpoint(eager=True)
        caching.release_persisted()
        t.update(_rungs({
            "survivors": lambda: noop(survivors),
            "sink": lambda: sinks.write_parquet(survivors, out),
        }))
        return {
            "sources.scan_s": t["scan"],
            "operators.textstats.quality_s": t["quality"] - t["scan"],
            "operators.dedup.signature_s": t["signatures"] - t["quality"],
            "operators.dedup.candidate_s": t["text_pairs"] - t["signatures"],
            "operators.similarity.bucket_s": t["buckets"] - t["emb_quality"],
            "sinks.write_s": t["sink"] - t["survivors"],
        }

    def counts(self, spark):
        good = self._good(spark)
        sig = dedup.minhash_signatures(
            dedup.char_shingles(good, "doc_id", "text", k=9, distinct=False),
            "doc_id", as_array=True)
        text_cand = dedup.lsh_candidate_pairs(sig, "doc_id", sig_col="sig").count()
        text_pairs = {tuple(r) for r in self._text_pairs(good).select("a", "b").collect()}
        emb = self._good_emb(spark, good)
        keyed = similarity.hyperplane_bucket_keys(emb, "embedding", self.data["dim"],
                                                  bits=LSH_BITS, tables=LSH_TABLES)
        bk = keyed.select("vec_id", F.explode("_bks").alias("_bk"))
        emb_cand = (bk.select(F.col("vec_id").alias("a"), "_bk")
                    .join(bk.select(F.col("vec_id").alias("b"), "_bk"), "_bk")
                    .filter(F.col("a") < F.col("b")).select("a", "b").distinct().count())
        emb_pairs = self._emb_pairs(emb).count()
        caching.release_persisted()
        planted = {tuple(p) for p in self.data["planted"]}
        return {
            "operators.dedup.candidate_pairs": text_cand,
            "operators.dedup.pair_yield": len(text_pairs) / max(text_cand, 1),
            "operators.dedup.recall": len(text_pairs & planted) / len(planted),
            "operators.similarity.candidate_pairs": emb_cand,
            "operators.similarity.pair_yield": emb_pairs / max(emb_cand, 1),
        }


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (MrWordcountSort, CurationDedup)}
