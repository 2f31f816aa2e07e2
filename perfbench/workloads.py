"""The three benchmark workloads: each calls one public entry point of
the package and checks every output it produces.

Why these three:

- ``clips_filter`` runs the flagship job over a fresh output and ledger.
  The fused Arrow scoring stage dominates it and no dedup code runs, so
  it is where scoring-kernel work shows.
- ``clips_resume`` reruns the same job after one input part changed, so
  it scores 1/16 of the rows and the per-job fixed costs (listing,
  fingerprints, planning, staging write, counter rescan, ledger commit)
  dominate. A change that adds a per-job pass shows here even when the
  full job hides it.
- ``neardup_lsh`` runs the ``dedup_minhash_lsh`` query over scaled
  documents plus their truncated copies. It exercises the LSH features
  UDF, the cache, the exchanges and the verify joins, and never scores.

BENCHMARK.json lists ``clips_filter`` and ``neardup_lsh``; each run pays a
cold JVM set-up, so a third workload's runs do not fit its time budget,
and ``clips_resume`` runs on request (``--workload clips_resume``).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from multi_task_offensive_language_detection_spark import checks
from multi_task_offensive_language_detection_spark.plans.pipeline import run_clips_pipeline
from multi_task_offensive_language_detection_spark.sources.clips import (
    list_parts,
    part_fingerprint,
    prune_to_parts,
    read_clips,
)
from multi_task_offensive_language_detection_spark.sources.ledger import Ledger

from . import inputs
from .tracing import PROBE_REPS, timed

#: per-subtask macro-F1 floor against the generator's golden labels
F1_FLOOR = 0.99
#: LSH parameters of the dedup_minhash_lsh query (5-shingles, 8x8 bands)
LSH_N, LSH_BANDS, LSH_ROWS, LSH_THRESHOLD = 5, 8, 8, 0.5
#: copies made by the query: doc_id + this offset, text minus its last 8 chars
COPY_OFFSET, COPY_TRUNC = 1_000_000, 8
#: planted-pair recall may fall this many standard deviations below the
#: banding S-curve expectation before the check fails
RECALL_SIGMAS = 6.0

#: score columns a rerun does not reproduce exactly: langid samples every
#: second n-gram of the flattened Arrow batch (operators/langid.py
#: score_batch), so which n-grams of a row it keeps depends on the rows
#: batched before it. Reruns are checked on every other column and the
#: rows whose langid columns moved are counted and reported.
BATCH_DEPENDENT = ("scores.langid_lang", "scores.langid_conf")

LEDGER_COUNTERS = {
    "n_langid_reject": ("langid",),
    "n_ppl_drop": ("perplexity",),
    "n_rule_drop": ("length", "repetition", "caps"),
    "n_toxicity_drop": ("toxicity",),
}


class CheckFailed(Exception):
    """A call completed but its output is wrong."""


def _fresh(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def macro_f1(gold: pd.Series, pred: pd.Series) -> float:
    """Macro-F1 over the union of gold and predicted classes; a class
    never predicted or never gold scores 0 (sklearn's convention)."""
    g, p = gold.to_numpy(), pred.to_numpy()
    f1s = []
    for c in sorted(set(g) | set(p)):
        tp = np.sum((g == c) & (p == c))
        n_pred, n_gold = np.sum(p == c), np.sum(g == c)
        prec = tp / n_pred if n_pred else 0.0
        rec = tp / n_gold if n_gold else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    return float(np.mean(f1s))


def read_output(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    """Output rows with the ``scores`` struct flattened, in clip_id order."""
    df = pq.read_table(path, columns=columns).flatten().to_pandas()
    return df.sort_values("clip_id", kind="stable").reset_index(drop=True)


class ClipsFilter:
    name = "clips_filter"
    #: untimed full-size calls after the first: a fresh JVM's clips calls
    #: keep getting faster for the first few calls
    warm_calls = 1

    def __init__(self, work: str, data: inputs.Clips, seed: int):
        self.spark = None
        self.data, self.seed = data, seed
        self.out = os.path.join(work, "out")
        self.ledger = os.path.join(work, "ledger")
        self.warm_out = os.path.join(work, "warmup-out")
        self.warm_ledger = os.path.join(work, "warmup-ledger")
        self.rows = data.n_rows
        self.golden = pq.read_table(data.golden).to_pandas()

    def warmup(self) -> None:
        _fresh(self.warm_out, self.warm_ledger)
        run_clips_pipeline(self.spark, self.data.slice, self.warm_out, self.warm_ledger)

    def prime(self) -> None:
        """The first full-size call, untimed and checked."""
        self.prepare(-1)
        self.check(-1, self.call(-1))

    def prepare(self, i: int) -> None:
        _fresh(self.out, self.ledger)

    def call(self, i: int) -> dict:
        return run_clips_pipeline(self.spark, self.data.table, self.out, self.ledger)

    def check(self, i: int, result: dict) -> None:
        if result["processed_parts"] != inputs.N_PARTS:
            raise CheckFailed(f"processed {result['processed_parts']} of {inputs.N_PARTS} parts")
        self.check_full_output()

    def check_full_output(self) -> None:
        cols = ["clip_id", "keep", "drop_reason", "label_a", "label_b", "label_c", "scrub_edits"]
        out = read_output(self.out, cols)
        if len(out) != self.data.n_rows or out["clip_id"].duplicated().any():
            raise CheckFailed(f"{len(out)} output rows for {self.data.n_rows} input rows")
        j = out.merge(self.golden, on="clip_id", suffixes=("", "_gold"), validate="one_to_one")
        for level in ("label_a", "label_b", "label_c"):
            m = j[f"{level}_gold"].notna()
            f1 = macro_f1(j.loc[m, f"{level}_gold"], j.loc[m, level].fillna("MISSING"))
            if f1 < F1_FLOOR:
                raise CheckFailed(f"{level} macro-F1 {f1:.4f} < {F1_FLOOR}")
        expect = {
            "n_in": len(out),
            "n_keep": int(out["keep"].sum()),
            "n_scrub_edits": int(out.loc[out["keep"], "scrub_edits"].sum()),
        }
        for k, reasons in LEDGER_COUNTERS.items():
            expect[k] = int(out["drop_reason"].isin(reasons).sum())
        totals = Ledger(self.ledger).totals()
        if totals != expect:
            raise CheckFailed(f"ledger totals {totals} != output counts {expect}")

    def texts_for_kernels(self) -> list[str]:
        return self.data.transcripts()

    def note(self) -> str:
        return ""

    # -- traced-run hooks ---------------------------------------------------

    def parts_written(self, i: int) -> list[int]:
        return list(range(inputs.N_PARTS))

    def after_call(self, i: int) -> dict[str, float]:
        files = 0
        for p in self.parts_written(i):
            d = os.path.join(self.out, f"part_id={p}")
            files += sum(not n.startswith((".", "_")) for n in os.listdir(d))
        return {"write.files": files}

    def pending_ledger(self) -> str:
        """The ledger state the job's pending() call sees: empty here."""
        d = os.path.join(os.path.dirname(self.ledger), "probe-ledger")
        _fresh(d)
        return d

    def layer_probes(self) -> dict[str, float]:
        table = self.data.table
        parts = list_parts(table)
        fps = {p: part_fingerprint(table, p) for p in parts}
        pending = Ledger(self.pending_ledger())
        done = Ledger(self.ledger)
        return {
            "clips.list_fingerprint_s": timed(
                lambda: {p: part_fingerprint(table, p) for p in list_parts(table)}, PROBE_REPS
            ),
            "ledger.pending_s": timed(lambda: pending.pending(parts, fps), PROBE_REPS),
            "ledger.totals_s": timed(done.totals, PROBE_REPS),
        }

    def scan_frame(self):
        """(frame, key, text) of the rows one call scores."""
        df = read_clips(self.spark, self.data.table).select("clip_id", "dur_ms", "transcript", "part_id")
        return prune_to_parts(df, self.parts_written(0)), "clip_id", "transcript"


class ClipsResume(ClipsFilter):
    name = "clips_resume"

    def __init__(self, work: str, data: inputs.Clips, seed: int):
        super().__init__(work, data, seed)
        self.rows = data.n_rows // inputs.N_PARTS
        self.reference: dict[int, pd.DataFrame] = {}
        self.totals: dict[str, int] = {}
        self.langid_drift = 0

    def prime(self) -> None:
        """The full run whose output and ledger every rerun resumes."""
        _fresh(self.out, self.ledger)
        ClipsFilter.check(self, -1, self.call(-1))
        self.reference = {p: self._part(p) for p in range(inputs.N_PARTS)}
        self.totals = Ledger(self.ledger).totals()

    def part(self, i: int) -> int:
        return (self.seed + i) % inputs.N_PARTS

    def parts_written(self, i: int) -> list[int]:
        return [self.part(i)]

    def pending_ledger(self) -> str:
        return self.ledger

    def prepare(self, i: int) -> None:
        # a new mtime changes the part's fingerprint: the input "changed"
        now = time.time_ns()
        os.utime(self.data.part_file(self.part(i)), ns=(now, now))

    def check(self, i: int, result: dict) -> None:
        if result["processed_parts"] != 1:
            raise CheckFailed(f"reprocessed {result['processed_parts']} parts, expected 1")
        p = self.part(i)
        got, ref = self._part(p), self.reference[p]
        if list(got.columns) != list(ref.columns) or len(got) != len(ref):
            raise CheckFailed(f"reprocessed part {p} has another shape than the full run")
        diff = [c for c in ref.columns if c not in BATCH_DEPENDENT and not got[c].equals(ref[c])]
        if diff:
            raise CheckFailed(f"reprocessed part {p} differs from the full run in {diff}")
        moved = np.zeros(len(ref), dtype=bool)
        for c in BATCH_DEPENDENT:
            moved |= (got[c] != ref[c]).to_numpy()
        self.langid_drift += int(moved.sum())
        totals = Ledger(self.ledger).totals()
        if totals != self.totals:
            raise CheckFailed(f"totals changed on resume: {totals} != {self.totals}")

    def _part(self, p: int) -> pd.DataFrame:
        return read_output(os.path.join(self.out, f"part_id={p}"))

    def note(self) -> str:
        return f"reruns moved langid columns on {self.langid_drift} rows"


def shingle_jaccard(a: str, b: str, n: int = LSH_N) -> float:
    sa = {a[i : i + n] for i in range(len(a) - n + 1)}
    sb = {b[i : i + n] for i in range(len(b) - n + 1)}
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def pair_digest(pairs: list[tuple[int, int]]) -> str:
    h = hashlib.sha256()
    for k1, k2 in sorted(pairs):
        h.update(f"{k1},{k2};".encode())
    return h.hexdigest()[:16]


class NeardupLsh:
    name = "neardup_lsh"
    warm_calls = 0

    def __init__(self, work: str, data: inputs.Docs, seed: int):
        self.spark = None
        self.data = data
        docs = data.read()
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist(), strict=True))
        en = docs.loc[docs["lang"] == "en", "doc_id"].tolist()
        for k in en:
            t = self.texts[k]
            self.texts[k + COPY_OFFSET] = t[: max(len(t) - COPY_TRUNC, 1)]
        self.planted = [(k, k + COPY_OFFSET) for k in en]
        self.rows = len(self.texts)
        self.verified: set[str] = set()
        self.digest = ""
        self.n_pairs = 0

    def query(self, sf_dir: str):
        return checks.QUERIES["dedup_minhash_lsh"](self.spark, sf_dir)

    def warmup(self) -> None:
        self.query(self.data.slice).collect()

    def prime(self) -> None:
        self.check(-1, self.call(-1))

    def prepare(self, i: int) -> None:
        pass

    def call(self, i: int) -> list:
        return self.query(self.data.dir).collect()

    def check(self, i: int, rows: list) -> None:
        pairs = [(r["k1"], r["k2"]) for r in rows]
        self.digest, self.n_pairs = pair_digest(pairs), len(pairs)
        if len(set(pairs)) != len(pairs):
            raise CheckFailed("duplicate pairs")
        if self.digest in self.verified:
            return
        for r in rows:
            j = shingle_jaccard(self.texts[r["k1"]], self.texts[r["k2"]])
            if j < LSH_THRESHOLD or abs(j - r["jaccard"]) > 1e-6:
                raise CheckFailed(f"pair {r['k1']},{r['k2']}: jaccard {r['jaccard']} vs {j:.6f}")
        found = set(pairs)
        hit, expect, var = 0, 0.0, 0.0
        for k1, k2 in self.planted:
            j = shingle_jaccard(self.texts[k1], self.texts[k2])
            p = 1.0 - (1.0 - j**LSH_ROWS) ** LSH_BANDS if j >= LSH_THRESHOLD else 0.0
            expect, var = expect + p, var + p * (1.0 - p)
            hit += (k1, k2) in found
        if hit < expect - RECALL_SIGMAS * math.sqrt(var):
            raise CheckFailed(f"found {hit} planted pairs, S-curve expects {expect:.1f}")
        self.verified.add(self.digest)

    def texts_for_kernels(self) -> list[str]:
        return self.data.read()["text"].tolist()

    def note(self) -> str:
        return f"{self.n_pairs} pairs, pair-set digest {self.digest}"

    # -- traced-run hooks ---------------------------------------------------

    def after_call(self, i: int) -> dict[str, float]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {"lsh.cache_bytes": float(sum(r.memSize() + r.diskSize() for r in infos))}

    def layer_probes(self) -> dict[str, float]:
        return {}

    def scan_frame(self):
        path = os.path.join(self.data.dir, "documents.parquet")
        return self.spark.read.parquet(path).select("doc_id", "text"), "doc_id", "text"


WORKLOADS = {w.name: w for w in (ClipsFilter, ClipsResume, NeardupLsh)}
