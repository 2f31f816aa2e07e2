"""Seeded benchmark inputs, generated outside the timed region and cached
on disk by (dataset, seed, size).

Two datasets:

- ``clips``: the flagship clips table from ``tests/fixtures/clips_gen``
  (no audio bytes; the text path never reads them), 16 hive parts, plus
  the generator's golden decisions and a small warm-up slice.
- ``docs``: the ``documents`` table at a multiple of sf0.1, built by the
  recipe of ``tools/gen_scaled_testdata.py`` (word salads over the sf0.1
  unigram mix, uniform 10-99 words per doc, the sf0.1 language mix), but
  seeded by the caller and with the sf0.1 statistics written down here,
  so the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 16
#: rows of part 0 that form the warm-up slice of the set-up phase
CLIPS_SLICE_ROWS = 512
DOCS_SLICE_ROWS = 300
SF01_DOCS = 5000

#: sf0.1 documents: 30 near-uniform words plus a rare "dup" token
#: (255 of ~270k tokens), 10-99 words per doc, this language mix
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
DOC_SOURCES = 20

CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)


@dataclass
class Clips:
    table: str
    golden: str
    slice: str
    n_rows: int

    def part_file(self, part_id: int) -> str:
        d = os.path.join(self.table, f"part_id={part_id}")
        return os.path.join(d, sorted(os.listdir(d))[0])

    def transcripts(self) -> list[str]:
        t = pq.read_table(self.table, columns=["transcript"])
        return t.column("transcript").to_pylist()


@dataclass
class Docs:
    dir: str
    slice: str

    def read(self):
        """The documents as a pandas frame (doc_id, text, lang)."""
        path = os.path.join(self.dir, "documents.parquet")
        return pq.read_table(path, columns=["doc_id", "text", "lang"]).to_pandas()


def _cached(root: str, key: str, build) -> str:
    """Build ``root/key`` once; a crash mid-build leaves no half entry."""
    final = os.path.join(root, key)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, final)
    return final


def clips(root: str, seed: int, n_rows: int) -> Clips:
    if n_rows % N_PARTS:
        raise ValueError(f"n_rows={n_rows} must be a multiple of {N_PARTS}")

    def build(out: str) -> None:
        from tests.fixtures.clips_gen import make_clips

        df, golden = make_clips(n_rows=n_rows, seed=seed, with_audio=False)
        for part_id, grp in df.groupby("part_id"):
            tbl = pa.Table.from_pandas(grp.drop(columns=["part_id"]), preserve_index=False)
            tbl = tbl.cast(CLIPS_SCHEMA)
            d = os.path.join(out, "clips", f"part_id={part_id}")
            os.makedirs(d)
            pq.write_table(tbl, os.path.join(d, "data.parquet"))
            if part_id == 0:
                s = os.path.join(out, "slice", "part_id=0")
                os.makedirs(s)
                pq.write_table(tbl.slice(0, CLIPS_SLICE_ROWS), os.path.join(s, "data.parquet"))
        cols = ["clip_id", "keep", "drop_reason", "label_a", "label_b", "label_c"]
        pq.write_table(
            pa.Table.from_pandas(golden[cols], preserve_index=False),
            os.path.join(out, "golden.parquet"),
        )

    d = _cached(root, f"clips-s{seed}-n{n_rows}", build)
    return Clips(
        os.path.join(d, "clips"), os.path.join(d, "golden.parquet"), os.path.join(d, "slice"), n_rows
    )


def docs(root: str, seed: int, mult: int) -> Docs:
    n_docs = SF01_DOCS * mult

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        words = np.array(DOC_WORDS + ["dup"])
        p = np.ones(len(words))
        p[-1] = 0.028  # 255 "dup" per ~9000 of each other word
        p /= p.sum()
        lens = rng.integers(10, 100, size=n_docs)
        flat = rng.choice(words, size=int(lens.sum()), p=p)
        bounds = np.concatenate(([0], np.cumsum(lens)))[:-1]
        texts = [" ".join(flat[b : b + n]) for b, n in zip(bounds, lens, strict=True)]
        langs = np.array(list(DOC_LANGS))
        lp = np.array(list(DOC_LANGS.values()), dtype=np.float64)
        tbl = pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(langs, size=n_docs, p=lp / lp.sum())),
                "source": pa.array([f"src{i}" for i in rng.integers(0, DOC_SOURCES, n_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        )
        os.makedirs(os.path.join(out, "full"))
        os.makedirs(os.path.join(out, "slice"))
        pq.write_table(tbl, os.path.join(out, "full", "documents.parquet"))
        pq.write_table(tbl.slice(0, DOCS_SLICE_ROWS), os.path.join(out, "slice", "documents.parquet"))

    d = _cached(root, f"docs-s{seed}-m{mult}", build)
    return Docs(os.path.join(d, "full"), os.path.join(d, "slice"))
