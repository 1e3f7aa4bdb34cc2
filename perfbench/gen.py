"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files. The benchmark hands the program only the
files; the Python-side models returned here are what the correctness checks
compare against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_HEADER = (
    "timestamp,resource_id,user_id,credit_usage,region,service_tier,"
    "operation_type,success,resource_type,invoice_id,currency\n"
)
KEY_FIELDS = (0, 1, 2, 9)  # timestamp, resource_id, user_id, invoice_id
LAKE_START = date(2025, 1, 1)

_REGIONS = ("us-east", "us-west", "eu-west", "eu-central", "ap-south", "ap-east")
_TIERS = ("free", "pro", "enterprise")
_OPS = ("inference", "training", "storage", "transfer", "query")
_RTYPES = ("gpu", "cpu", "disk", "network")


def day_dir(root: str, d: date) -> str:
    return os.path.join(root, f"year={d.year}", f"month={d.month:02d}", f"day={d.day:02d}")


@dataclass
class LakeModel:
    """What a correct ingest of the generated lake must produce.

    ``files`` holds, per day in landing order, the rows of that day's
    ``billing.csv`` as tuples of CSV field strings ('' is NULL)."""

    days: list[date]
    files: list[list[tuple[str, ...]]]

    @property
    def rows_generated(self) -> int:
        return sum(len(f) for f in self.files)

    def expected(self, n_days: int) -> dict:
        """raw_billing after ingesting the first ``n_days`` files: row
        count, per-day credit sums (by the row's timestamp date; '' for a
        NULL timestamp) and rows appended by each day's file, landing one
        day at a time. A natural key with a NULL part never matches, so
        such rows always append; fully keyed rows append once per key."""
        seen: set[tuple[str, ...]] = set()
        rows = 0
        sums: dict[str, float] = {}
        appended: list[int] = []
        for rows_of_day in self.files[:n_days]:
            n = 0
            for r in rows_of_day:
                key = tuple(r[i] for i in KEY_FIELDS)
                if all(key):
                    if key in seen:
                        continue
                    seen.add(key)
                n += 1
                day = r[0][:10]
                sums[day] = sums.get(day, 0.0) + float(r[3])
            appended.append(n)
            rows += n
        return {"rows": rows, "day_sums": sums, "appended": appended}


def lake_rows(seed: int, n_days: int, rows_per_day: int) -> LakeModel:
    """Billing rows in the reference schema for ``n_days`` consecutive days.

    Per day: unique timestamps within the day and unique invoice ids, so
    every row is distinct; then ~2% in-file exact duplicates, ~2% exact
    copies of the previous day's rows (a late re-delivery, so its
    timestamp is the previous day's) and ~1% rows with one NULL key part.
    NULL-key rows are never duplicated. credit_usage is a multiple of
    1/8, so every sum is exact in binary floating point."""
    rng = np.random.default_rng(seed)
    days = [LAKE_START + timedelta(days=i) for i in range(n_days)]
    files: list[list[tuple[str, ...]]] = []
    prev_keyed: list[tuple[str, ...]] = []
    for d in days:
        n = rows_per_day
        secs = np.sort(rng.choice(86400, size=n, replace=False))
        res = rng.integers(0, 400, n)
        usr = rng.integers(0, 1500, n)
        credit = rng.integers(1, 8000, n)
        reg = rng.integers(0, len(_REGIONS), n)
        tier = rng.integers(0, len(_TIERS), n)
        op = rng.integers(0, len(_OPS), n)
        ok = rng.random(n) < 0.93
        rt = rng.integers(0, len(_RTYPES), n)
        cur = rng.random(n) < 0.8
        null_part = np.where(rng.random(n) < 0.01, rng.integers(0, 4, n), -1)
        stamp = d.isoformat()
        rows = []
        for i in range(n):
            s = int(secs[i])
            f = [
                f"{stamp} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}",
                f"res-{res[i]:04d}",
                f"user-{usr[i]:05d}",
                f"{credit[i] / 8}",
                _REGIONS[reg[i]],
                _TIERS[tier[i]],
                _OPS[op[i]],
                "true" if ok[i] else "false",
                _RTYPES[rt[i]],
                f"inv-{d:%Y%m%d}-{i:06d}",
                "USD" if cur[i] else "EUR",
            ]
            if null_part[i] >= 0:
                f[KEY_FIELDS[null_part[i]]] = ""
            rows.append(tuple(f))
        keyed = [r for r in rows if all(r[k] for k in KEY_FIELDS)]
        dups = [keyed[j] for j in rng.choice(len(keyed), size=n // 50, replace=False)]
        late = (
            [prev_keyed[j] for j in rng.choice(len(prev_keyed), size=n // 50, replace=False)]
            if prev_keyed
            else []
        )
        out = rows + dups + late
        order = rng.permutation(len(out))
        files.append([out[j] for j in order])
        prev_keyed = keyed
    return LakeModel(days=days, files=files)


def render_day(model: LakeModel, i: int) -> str:
    """Day ``i`` of the model as the text of its ``billing.csv``."""
    return CSV_HEADER + "".join(",".join(r) + "\n" for r in model.files[i])


def write_day(root: str, day: date, body: str) -> None:
    """Land one day's file as ``year=/month=/day=/billing.csv``."""
    path = day_dir(root, day)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "billing.csv"), "w") as f:
        f.write(body)


# ---------------------------------------------------------------------------
# Corpus: documents + embeddings in the catalog's testdata schema
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EMBED_DIM = 64


@dataclass
class CorpusModel:
    n_docs: int
    exact_pairs: list[tuple[int, int]]  # (original, copy)
    near_pairs: list[tuple[int, int]]  # (original, edited copy)
    n_vecs: int
    vec_pairs: list[tuple[int, int]]  # (original, perturbed copy)

    @property
    def planted_share(self) -> float:
        return (len(self.exact_pairs) + len(self.near_pairs)) / self.n_docs


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> CorpusModel:
    """``documents.parquet`` and ``embeddings.parquet`` under ``out_dir``.

    Documents: 10-100 tokens over the 31-word testdata vocabulary. 4% of
    docs are exact copies of an earlier doc and 4% are near copies (one
    token in 40 replaced). Embeddings: unit vectors around 10 label
    centroids; 5% are a perturbed copy (cosine ~0.99) of an earlier
    vector, planting known nearest neighbours."""
    rng = np.random.default_rng(seed + 7919)
    texts: list[str] = []
    exact: list[tuple[int, int]] = []
    near: list[tuple[int, int]] = []
    vocab = np.array(_VOCAB)
    for i in range(n_docs):
        u = rng.random()
        if i > 20 and u < 0.04:
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            exact.append((src, i))
        elif i > 20 and u < 0.08:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            for j in range(0, len(toks), 40):
                toks[j] = "dup"
            texts.append(" ".join(toks))
            near.append((src, i))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centroids = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, EMBED_DIM))
    vec_pairs: list[tuple[int, int]] = []
    for i in range(20, n_vecs):
        if rng.random() < 0.05:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(scale=0.1, size=EMBED_DIM) * np.linalg.norm(
                vecs[src]
            ) / np.sqrt(EMBED_DIM)
            labels[i] = labels[src]
            vec_pairs.append((src, i))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return CorpusModel(n_docs, exact, near, n_vecs, vec_pairs)
