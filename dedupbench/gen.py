"""Seeded inputs and their planted truth, one generator per workload.

Every generator is a pure function of its arguments: the same seed
gives byte-identical rows and the same truth. Inputs are built on the
driver with NumPy and written with pyarrow, so generation never runs a
Spark job and stays out of every timed window.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet_files(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files, one scan partition
    each, so a scan starts with every task slot busy."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    for k in range(n_files):
        part = pdf.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"part-{k:05d}.parquet"))


# ---------------------------------------------------------------- images

def image_corpus(seed: int, n: int) -> tuple[pd.DataFrame, dict[str, str]]:
    """The engine's own image+caption corpus (``synth.make_pdf``) and its
    golden clusters: id -> planted cluster label."""
    from deduper_spark.synth import expected_clusters, make_pdf

    pdf = make_pdf(seed, n)
    truth = expected_clusters(seed, n)
    return pdf, dict(zip(truth["image_id"], truth["cluster_id"]))


# ------------------------------------------------------------------ text

HOT_CLIQUES = (250, 300)      # both above FuzzyConfig.max_bucket_size=200
CHAIN_LEN = (12, 40)          # inclusive; one-token edit per link
CLIQUE_SIZE = (2, 8)          # inclusive; small near-dup cliques
DOC_TOKENS = (100, 140)       # a one-token edit keeps Jaccard >= ~0.9


def _vocab(seed: int, size: int = 5000) -> np.ndarray:
    rng = np.random.default_rng([seed, 0])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, size=int(rng.integers(3, 10))))
             for _ in range(size * 2)}
    return np.array(sorted(words)[:size])


def text_corpus(seed: int, n: int) -> tuple[pd.DataFrame, dict[str, int]]:
    """``n`` documents with heavy-tailed planted clusters:

    * two hot cliques of 250 and 300 near-copies of one base document
      (one random token edit each), so their MinHash bands overflow
      ``max_bucket_size`` and take the salt path;
    * chains of 12-40 documents, each one token edit away from the
      previous one, so only the transitive closure joins the ends;
    * small cliques of 2-8 (a base plus one-edit copies);
    * singletons for the rest (most of the corpus).

    Returns (doc_id, text) rows in shuffled order and the planted
    cluster label of every doc_id."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(seed)

    def base() -> np.ndarray:
        return rng.integers(0, len(vocab), size=int(rng.integers(
            DOC_TOKENS[0], DOC_TOKENS[1] + 1)))

    def edit(doc: np.ndarray) -> np.ndarray:
        out = doc.copy()
        out[int(rng.integers(0, len(out)))] = int(rng.integers(0, len(vocab)))
        return out

    docs: list[np.ndarray] = []
    labels: list[int] = []

    def add(members: list[np.ndarray]) -> None:
        label = len(docs)
        docs.extend(members)
        labels.extend([label] * len(members))

    for size in HOT_CLIQUES:
        b = base()
        add([b] + [edit(b) for _ in range(size - 1)])
    for _ in range(max(2, n // 400)):
        chain = [base()]
        for _ in range(int(rng.integers(CHAIN_LEN[0], CHAIN_LEN[1] + 1)) - 1):
            chain.append(edit(chain[-1]))
        add(chain)
    for _ in range(n // 25):
        b = base()
        size = int(rng.integers(CLIQUE_SIZE[0], CLIQUE_SIZE[1] + 1))
        add([b] + [edit(b) for _ in range(size - 1)])
    if len(docs) > n:
        raise ValueError(f"text corpus needs n >= {len(docs)}, got {n}")
    while len(docs) < n:
        add([base()])

    order = rng.permutation(n)
    ids = [f"doc{j:08d}" for j in range(n)]
    texts = [" ".join(vocab[docs[i]]) for i in order]
    truth = {ids[j]: labels[i] for j, i in enumerate(order)}
    return pd.DataFrame({"doc_id": ids, "text": texts}), truth


# --------------------------------------------------------------- tabular

TABLE_KEYS = ("name", "email", "city", "sku", "qty", "amount")

_CITIES = ["SACRAMENTO", "ELK GROVE", "DAVIS", "FOLSOM", "ROSEVILLE",
           "LINCOLN", "AUBURN", "GALT", "RIO LINDA", "CITRUS HEIGHTS"]
_NAMES = ["ADA", "BRUNO", "CLEO", "DMITRI", "EVA", "FARID", "GRETA",
          "HIRO", "INES", "JONAS", "KEMAL", "LENA", "MILO", "NORA"]


@dataclass
class BatchTruth:
    rows: int
    survivors: int      # rows kept: distinct entities new to the ledger
    dupe_groups: int    # new entities with >1 row in the batch
    seen_rows: int      # rows whose entity is already in the ledger
    ledger_after: int   # ledger rows after this batch
    # row_id -> entity for the rows whose entity is new to the ledger:
    # the exact-dedup clustering the batch's sinks must reproduce
    new_entity: dict[int, int] = field(default_factory=dict)


@dataclass
class TableSeries:
    batches: list[pd.DataFrame] = field(default_factory=list)
    truth: list[BatchTruth] = field(default_factory=list)


def table_batches(seed: int, n_batches: int, rows: int,
                  dup_share: float = 0.3) -> TableSeries:
    """``n_batches`` batches of ``rows`` rows of an orders-like table.

    A row repeats an earlier entity (identical key columns) with
    probability ``dup_share`` — half of the repeats from the same batch,
    half from earlier batches once there are any — and is a new entity
    otherwise. Entities are distinct on the key columns by
    construction (the email carries the entity number)."""
    rng = np.random.default_rng([seed, 2])
    n_ent = 0
    ledger: set[int] = set()
    out = TableSeries()
    for b in range(n_batches):
        ent = np.empty(rows, dtype=np.int64)
        first_in_batch = n_ent
        for r in range(rows):
            repeat = r > 0 and rng.random() < dup_share
            if repeat and ledger and rng.random() < 0.5:
                ent[r] = int(rng.integers(0, first_in_batch))
            elif repeat and n_ent > first_in_batch:
                ent[r] = int(rng.integers(first_in_batch, n_ent))
            else:
                ent[r] = n_ent
                n_ent += 1
        # entity attributes are a pure function of the entity number
        cols = _entity_columns(seed, ent)
        row_id = np.arange(b * rows, (b + 1) * rows, dtype=np.int64)
        pdf = pd.DataFrame({"row_id": row_id, **cols})
        uniq, counts = np.unique(ent, return_counts=True)
        is_new = np.array([e not in ledger for e in uniq], dtype=bool)
        seen_rows = int(counts[~is_new].sum())
        truth = BatchTruth(
            rows=rows,
            survivors=int(is_new.sum()),
            dupe_groups=int((is_new & (counts > 1)).sum()),
            seen_rows=seen_rows,
            ledger_after=len(ledger) + int(is_new.sum()),
            new_entity={int(r): int(e) for r, e in zip(row_id, ent)
                        if int(e) not in ledger},
        )
        ledger.update(int(e) for e in uniq)
        out.batches.append(pdf)
        out.truth.append(truth)
    return out


def _entity_columns(seed: int, ent: np.ndarray) -> dict[str, np.ndarray]:
    h = (ent * 2654435761 + seed * 40503) % (2 ** 31)
    return {
        "name": np.array(_NAMES)[h % len(_NAMES)],
        "email": np.char.add(np.char.add("user", ent.astype(str)),
                             "@example.org"),
        "city": np.array(_CITIES)[(h // 7) % len(_CITIES)],
        "sku": np.char.add("SKU-", ((h // 13) % 5000).astype(str)),
        "qty": ((h // 17) % 9 + 1).astype(np.int32),
        "amount": np.round(((h // 19) % 100_000) / 100.0, 2),
    }
