"""The ``curate_freeze`` workload.

Set-up (untimed) builds a seeded corpus over the 31-word vocabulary of the
repository's ``sf*/documents.parquet`` test data plus the eight Gopher stop
words, plants exact duplicates, near duplicates, PII strings, repetitive
and noise documents at fixed shares, and commits it to a warehouse
``documents`` table as several merge-on-read deltas, some doc_ids being
rewritten by later deltas.  Each timed freeze is ``storage.read`` ->
``curate_corpus`` -> one parquet write; freezes run back to back.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from spiders_for_all_spark import schemas as S
from spiders_for_all_spark.operators import cleaning as CL
from spiders_for_all_spark.operators.curation import curate_corpus
from spiders_for_all_spark.operators.textdedup import minhash_dup_clusters
from spiders_for_all_spark.storage import SnapshotStorage

from common import Result, closed_loop, dir_footprint, log, materialize, median, timed
from spans import SpanRecorder, TracedStorage

# the vocabulary of the sf*/documents.parquet test corpora ...
SF_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()
# ... plus the Gopher stop words, without which the Gopher rule drops
# every document (it wants two distinct stop words per document)
VOCAB = SF_VOCAB + [w for w in CL.GOPHER_STOPWORDS if w not in SF_VOCAB]

N_DOCS = 5_000  # final (live) documents
N_DELTAS = 4
SHARES = {  # planted shares of the live documents
    "exact_dup": 0.04,  # copies of another document's text
    "near_dup": 0.04,  # another document's text with ~3% of words replaced
    "pii": 0.05,  # 1-3 PII tokens inserted
    "repetitive": 0.03,  # one short phrase repeated
    "noise": 0.02,  # half its words seen nowhere else (LM band drops them)
}
UPDATED_SHARE = 0.10  # doc_ids first committed with stale text

CURATE_ARGS = dict(
    repetition_filter=True, gopher=True, passage_n=12, substring_k=8,
    min_lm_bits=3.0, max_lm_bits=8.0, scrub_pii=True,
)


def make_corpus(seed: int):
    """(deltas, planted): ``deltas`` is a list of {doc_id: text} in commit
    order; ``planted`` holds the exact-duplicate groups and PII tokens."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)

    def words(n: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), n)])

    def text() -> list[str]:
        return words(int(rng.integers(60, 140)))

    kinds = []
    for kind, share in SHARES.items():
        kinds += [kind] * int(N_DOCS * share)
    kinds += ["plain"] * (N_DOCS - len(kinds))
    rng.shuffle(kinds)

    final: dict[str, str] = {}
    groups: list[list[str]] = []
    pii: list[str] = []
    plain_ids: list[str] = []
    for i, kind in enumerate(kinds):
        doc_id = f"d{seed}-{i:07d}"
        if kind in ("exact_dup", "near_dup") and plain_ids:
            src = plain_ids[int(rng.integers(0, len(plain_ids)))]
            w = final[src].split(" ")
            if kind == "exact_dup":
                group = next((g for g in groups if g[0] == src), None)
                if group is None:
                    groups.append(group := [src])
                group.append(doc_id)
            else:
                for j in rng.choice(len(w), max(len(w) // 33, 1), replace=False):
                    w[j] = str(vocab[rng.integers(0, len(vocab))])
            final[doc_id] = " ".join(w)
            continue
        w = text()
        if kind == "pii":
            for _ in range(int(rng.integers(1, 4))):
                n = int(rng.integers(0, 10**6))
                tok = (f"user{n}@mail{n % 97}.example.org", f"10.{n % 250}.{n % 199}.{n % 7}",
                       f"{200 + n % 700:03d}-555-{n % 10000:04d}")[int(rng.integers(0, 3))]
                w.insert(int(rng.integers(0, len(w))), tok)
                pii.append(tok)
        elif kind == "repetitive":
            phrase = words(4)
            w = w[:20] + phrase * 20
        elif kind == "noise":
            # every other word a token seen nowhere else: passes the Gopher
            # rule, and its unseen bigrams put it above the LM band
            w[::2] = [f"zq{rng.integers(0, 1 << 16):x}" for _ in w[::2]]
        else:
            plain_ids.append(doc_id)
        final[doc_id] = " ".join(w)

    ids = list(final)
    n_updated = int(UPDATED_SHARE * len(ids))
    deltas: list[dict[str, str]] = [{} for _ in range(N_DELTAS)]
    for pos, k in enumerate(rng.permutation(len(ids))):
        doc_id = ids[k]
        if pos < n_updated:
            # final text in a later delta, a stale text in an earlier one
            d = 1 + pos % (N_DELTAS - 1)
            deltas[int(rng.integers(0, d))][doc_id] = " ".join(text())
        else:
            d = pos % N_DELTAS
        deltas[d][doc_id] = final[doc_id]
    return deltas, {"groups": groups, "pii": sorted(set(pii)), "n_docs": len(final)}


def write_delta(path: str, docs: dict[str, str], stamp: int) -> str:
    ts = pa.scalar(stamp * 1_000_000, pa.timestamp("us", tz="UTC"))
    table = pa.table({
        "doc_id": pa.array(list(docs), pa.string()),
        "spans": pa.array(
            [[{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
             for t in docs.values()],
            pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                ("media_ref", pa.string()), ("offset", pa.int32())])),
        ),
        "create_at": pa.array([ts] * len(docs)),
        "update_at": pa.array([ts] * len(docs)),
    })
    pq.write_table(table, path)
    return path


def flat_docs(storage: SnapshotStorage):
    """documents as (doc_id, text): span text in document order."""
    return (
        storage.read("documents")
        .select("doc_id", F.concat_ws(" ", F.transform("spans", lambda s: s["text"])).alias("text"))
        .filter(F.length("text") > 0)
    )


class Freeze:
    def __init__(self, spark, work: str, seed: int, recorder):
        self.spark, self.work, self.seed, self.recorder = spark, work, seed, recorder
        self.freeze_s: list[float] = []
        self.digests: list[int] = []
        self.attempted = self.failed = 0

    def build(self) -> None:
        wh = os.path.join(self.work, "wh")
        self.storage = (TracedStorage(self.spark, wh, self.recorder)
                        if self.recorder is not None else SnapshotStorage(self.spark, wh))
        deltas, self.planted = make_corpus(self.seed)
        src = os.path.join(self.work, "src")
        os.makedirs(src, exist_ok=True)
        self.storage.commit("documents", self.storage.empty("documents"))
        for k, delta in enumerate(deltas):
            path = write_delta(os.path.join(src, f"delta{k}.parquet"), delta, 1_700_000_000 + k)
            df = self.spark.read.schema(S.DOCUMENTS).parquet(path)
            self.storage.commit_multi([self.storage.stage_merge(
                "documents", df, key="doc_id", keep_on_match=["create_at"], strategy="mor",
            )])
        shutil.rmtree(src)
        self.out_path = os.path.join(wh, "_frozen")
        self.n_docs = self.planted["n_docs"]
        g = [(d, n) for n, grp in enumerate(self.planted["groups"]) for d in grp]
        self.groups = self.spark.createDataFrame(g or [("", -1)], "doc_id string, grp int")
        self.pii = self.spark.createDataFrame([(t,) for t in self.planted["pii"]] or [("",)], "tok string")

    def freeze(self) -> float:
        """read -> curate_corpus -> parquet write; curate_corpus runs some
        jobs while it composes (connected components iterate), so the
        clock covers the call, not just the write."""
        t0 = time.monotonic()
        curate_corpus(flat_docs(self.storage), **CURATE_ARGS).write.mode(
            "overwrite").parquet(self.out_path)
        return time.monotonic() - t0

    def check(self) -> tuple[bool, int, int]:
        """(correct, digest, rows) of the last frozen output."""
        out = self.spark.read.parquet(self.out_path)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("doc_id", "text") % (1 << 40)).alias("digest"),
        ).first()
        dup_violations = (
            out.join(F.broadcast(self.groups), "doc_id").groupBy("grp").count()
            .filter("count > 1").count()
        )
        pii_hits = (
            out.select(F.explode(F.split("text", " ")).alias("tok"))
            .join(F.broadcast(self.pii), "tok", "left_semi").count()
        )
        good = dup_violations == 0 and pii_hits == 0 and row["n"] > 0
        if not good:
            log(f"curate check: {dup_violations} duplicate groups kept >1 doc, "
                f"{pii_hits} PII tokens survived, {row['n']} rows")
        return good, int(row["digest"] or 0), int(row["n"])

    def guarded_freeze(self, timed_freeze: bool = True) -> float:
        """One freeze and its check; a bad one (the warm-up's included)
        counts as failed, one that raises ends the loop."""
        self.attempted += timed_freeze
        try:
            dt = self.freeze()
            good, digest, n = self.check()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            raise
        self.digests.append(digest)
        self.rows_out = n
        if digest != self.digests[0]:
            log(f"curate digest {digest} != first freeze {self.digests[0]}")
            good = False
        self.failed += not good
        if timed_freeze:
            self.freeze_s.append(dt)
        return dt


STAGES = ("repetition", "gopher", "minhash", "passage", "substring", "lm", "pii")


def replica(fz: Freeze, parent: dict) -> dict:
    """The freeze's stages in ``curate_corpus`` order, each applied to the
    previous stage's materialized output; returns per-stage (s, rows in,
    rows out) and the final row count."""
    spark, rec, a = fz.spark, fz.recorder, CURATE_ARGS
    base = os.path.join(fz.work, "replica")
    shutil.rmtree(base, ignore_errors=True)
    vals: dict[str, float] = {}
    with rec.span("storage.read_resolve", None, parent) as sp:
        rec.current = sp  # the traced storage's own read span nests here
        cur = materialize(spark, flat_docs(fz.storage), os.path.join(base, "read"))
        rec.current = None
    vals["storage.read_s"] = sp["end"] - sp["start"]
    reads = [s for s in rec.spans if s["name"] == "storage.read" and s["parent"] == sp["id"]]
    vals["storage.delta_dirs_read"] = max((s["counts"].get("delta_dirs", 0) for s in reads), default=0)
    t = F.col("text")

    def step(df, stage: str):
        if stage == "repetition":
            return df.filter((CL.dup_word_fraction(t) <= CL.MAX_DUP_WORD_FRAC)
                             & (CL.top_bigram_fraction(t) <= CL.MAX_TOP_BIGRAM_FRAC))
        if stage == "gopher":
            return df.filter(CL.gopher_keep(t))
        if stage == "minhash":
            cl = minhash_dup_clusters(df, "text", "doc_id")
            non_reps = cl.filter(F.col("doc_id") != F.col("component")).select("doc_id")
            return df.join(non_reps, "doc_id", "left_anti")
        if stage == "passage":
            kept = CL.passage_dedup(df, "text", "doc_id", a["passage_n"]).select(
                "doc_id", "text_kept", "n_kept")
            return (df.drop("text").join(kept, "doc_id").filter(F.col("n_kept") > 0)
                    .withColumnRenamed("text_kept", "text").drop("n_kept"))
        if stage == "substring":
            kept = CL.scrub_substring_dups(df, "text", "doc_id", a["substring_k"])
            return (df.withColumn("_sid", F.col("doc_id").cast("string")).drop("text")
                    .join(kept.withColumnRenamed("doc_id", "_sid"), "_sid")
                    .filter(F.col("n_removed") < F.col("n_words"))
                    .withColumnRenamed("text_kept", "text")
                    .drop("_sid", "n_removed", "n_words"))
        if stage == "lm":
            scores = CL.lm_perplexity(df, "text", "doc_id").withColumnRenamed("doc_id", "_sid")
            return (df.withColumn("_sid", F.col("doc_id").cast("string")).join(scores, "_sid")
                    .filter(F.col("bits_per_token").between(a["min_lm_bits"], a["max_lm_bits"]))
                    .drop("_sid", "n_bigrams", "bits_per_token"))
        return df.withColumn("text", CL.pii_scrub(t))

    n = cur.count()
    for stage in STAGES:
        vals[f"curation.{stage}_rows_in"] = n
        with rec.span(f"curation.{stage}", None, parent) as sp:
            cur = materialize(spark, step(cur, stage), os.path.join(base, stage))
        vals[f"curation.{stage}_s"] = sp["end"] - sp["start"]
        n = cur.count()
        vals[f"curation.{stage}_rows_out"] = n
    m_in, m_out = vals["curation.minhash_rows_in"], vals["curation.minhash_rows_out"]
    vals["curation.dup_frac"] = 1 - m_out / m_in if m_in else 0.0
    vals["_rows_out"] = n
    vals["_layer_s"] = sum(vals[f"curation.{s}_s"] for s in STAGES) + vals["storage.read_s"]
    return vals


# end-to-end metric -> unit (--trace 0)
E2E = {
    "setup_s": "s",
    "curate_docs_per_s": "1/s",
    "freeze_s_p50": "s",
    "jvm_heap_mb": "MB",
    "jvm_non_heap_mb": "MB",
    "worker_mem_mb": "MB",
    "warehouse_kb_per_doc": "KB",
}

# per-layer metric -> unit (--trace 1)
LAYERS = {
    "storage.read_s": "s",
    "storage.delta_dirs_read": "count",
    **{f"curation.{stage}_s": "s" for stage in STAGES},
    "curation.dup_frac": "ratio",
    **{f"curation.{stage}_rows_{io}": "count" for stage in STAGES for io in ("in", "out")},
    "trace.freeze_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    "trace.counts_match": "bool",
    "trace.spans": "count",
}


def run(spark, name: str, work: str, seed: int, seconds: float, trace: bool,
        session_s: float, spans_out: str) -> Result:
    recorder = SpanRecorder() if trace else None
    fz = Freeze(spark, work, seed, recorder)
    _, gen_s = timed(fz.build)
    warm_s = fz.guarded_freeze(timed_freeze=False)
    log(f"{name}: session {session_s:.2f}s, inputs {gen_s:.2f}s, "
        f"warm-up freeze {warm_s:.2f}s -> {fz.rows_out}/{fz.n_docs} docs kept")
    res = Result()
    try:
        if trace:
            res.metrics = traced_loop(fz, seconds)
        else:
            closed_loop(lambda i: fz.guarded_freeze(), seconds)
    except Exception:
        pass  # counted as failed where it was raised
    log(f"{name}: {len(fz.freeze_s)} timed freezes {['%.2f' % s for s in fz.freeze_s]}")
    if trace:
        recorder.dump(spans_out)
        log(f"{name}: spans written to {spans_out}")
    else:
        res.metrics = {
            "setup_s": session_s + gen_s + warm_s,
            "curate_docs_per_s": fz.n_docs * len(fz.freeze_s) / sum(fz.freeze_s)
            if fz.freeze_s else 0.0,
            "freeze_s_p50": median(fz.freeze_s),
            "warehouse_kb_per_doc": dir_footprint(fz.storage.warehouse)[0] / 1024.0 / fz.n_docs,
        }
    res.attempted = max(fz.attempted, 1)
    res.failed, res.samples = min(fz.failed, res.attempted), fz.freeze_s
    return res


def traced_loop(fz: Freeze, seconds: float) -> dict:
    """Per iteration: a freeze with the recorder off, the staged replica,
    then a freeze with the traced storage recording."""
    rec: SpanRecorder = fz.recorder
    rows: list[dict] = []
    plain_s: list[float] = []
    traced_s: list[float] = []

    def step(i: int) -> None:
        rec.enabled = False
        plain_s.append(fz.guarded_freeze())
        rec.enabled = True
        with rec.span("replica", i) as root:
            vals = replica(fz, root)
        with rec.span("freeze", i) as froot:
            rec.current = froot
            try:
                traced_s.append(fz.guarded_freeze())
            finally:
                rec.current = None
        if vals["_rows_out"] != fz.rows_out:
            fz.failed += 1
            log(f"replica kept {vals['_rows_out']} docs, freeze kept {fz.rows_out}")
        rows.append(vals)

    try:
        closed_loop(step, seconds)
    except Exception:
        traceback.print_exc()
        fz.failed += 1
    if not rows:
        return dict.fromkeys(LAYERS, 0.0)
    vals = {k: median([r[k] for r in rows]) for k in rows[0]}
    vals.pop("_rows_out")
    layer_s = vals.pop("_layer_s")
    vals["trace.freeze_s"] = median(traced_s)
    vals["trace.overhead_s"] = median(traced_s) - median(plain_s)
    vals["trace.span_coverage"] = layer_s / median(plain_s)
    vals["trace.counts_match"] = 1.0 if fz.failed == 0 else 0.0
    vals["trace.spans"] = len(rec.spans)
    return vals
