"""Output checks. Every expected value comes from the generated inputs or
from numpy/sqlite/pyarrow, never from the program under test.

Each ``check_*`` returns a list of error strings; empty means it passed.
``self_test`` feeds each check a tampered output and expects it to fail.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sqlite3

import numpy as np
import pyarrow.parquet as pq

TOL = 1e-6 + 1e-9


def mock_vectors(texts: list[str], dim: int) -> np.ndarray:
    """The documented mock embedding (embedding/mock.py): component i of
    text t is md5(t + ':' + i)[:15] as an int, mod 1e6, scaled to [-1, 1);
    then L2-normalised and rounded to 6 places."""
    out = np.empty((len(texts), dim))
    for r, t in enumerate(texts):
        for i in range(dim):
            h = int(hashlib.md5(f"{t}:{i}".encode()).hexdigest()[:15], 16)
            out[r, i] = (h % 1000000) / 1000000.0 * 2.0 - 1.0
    out /= np.linalg.norm(out, axis=1, keepdims=True)
    return np.round(out, 6)


def read_index(out_dir: str, columns: list[str]) -> dict[str, list]:
    return pq.read_table(os.path.join(out_dir, "index"), columns=columns).to_pydict()


def read_store_ids(db_path: str) -> list[str]:
    """Chunk ids held by the llama-stack ``faiss_store.db`` KV table."""
    conn = sqlite3.connect(db_path)
    try:
        rows = conn.execute(
            "SELECT value FROM kvstore WHERE key LIKE '%faiss_index:v3::%'"
        ).fetchall()
    finally:
        conn.close()
    ids = []
    for (value,) in rows:
        for rec in json.loads(value)["chunk_by_index"].values():
            ids.append(json.loads(rec)["chunk_id"])
    return ids


def check_build(corpus, index: dict[str, list], store_ids: list[str]) -> list[str]:
    """Index rows against the corpus that produced them."""
    errors = []
    texts = index["text"]
    if len(texts) != corpus.expected_chunks:
        errors.append(f"{len(texts)} chunks, expected {corpus.expected_chunks}")
    where: dict[str, list[int]] = {}
    for row, text in enumerate(texts):
        for tok in text.split():
            if tok in corpus.sections:
                where.setdefault(tok, []).append(row)
    for marker, section in corpus.sections.items():
        rows = where.get(marker, [])
        if len(rows) != 1:
            errors.append(f"marker {marker} in {len(rows)} chunks")
        elif section.count(" ") < 380 and texts[rows[0]] != section:
            errors.append(f"chunk of {marker} differs from its section")
    for text in texts:
        if " ".join(text.split()) in corpus.heading_only:
            errors.append(f"heading-only chunk {text!r}")
    if sorted(store_ids) != sorted(index["chunk_id"]):
        errors.append(
            f"faiss_store.db holds {len(store_ids)} chunks, index {len(texts)}"
        )
    return errors


def check_vectors(
    index: dict[str, list], dim: int, want: np.ndarray | None = None
) -> list[str]:
    """Stored vectors against ``mock_vectors`` of the stored texts (pass
    ``want`` when it is already computed)."""
    errors = []
    bad_dim = [len(v) for v in index["embedding"] if len(v) != dim]
    if bad_dim:
        return [f"{len(bad_dim)} vectors not {dim}-d"]
    got = np.asarray(index["embedding"], dtype=np.float64)
    if want is None:
        want = mock_vectors(index["text"], dim)
    worst = float(np.max(np.abs(got - want))) if len(got) else 0.0
    if worst > TOL:
        errors.append(f"vector differs from the mock formula by {worst:.3g}")
    return errors


def check_vector_hits(
    result: dict, ids: list[str], vecs: np.ndarray, qvec: np.ndarray, k: int,
    want_id: str,
) -> list[str]:
    """Hits against a numpy exact top-k (inner product, ties by id)."""
    scores = np.round(vecs @ qvec, 6)
    order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:k]
    nodes = result.get("nodes", [])
    got_ids = [n["id"] for n in nodes]
    got_scores = np.array([n["score"] for n in nodes])
    want_scores = scores[order]
    errors = []
    if len(nodes) != len(order):
        return [f"{len(nodes)} hits, expected {len(order)}"]
    if np.max(np.abs(got_scores - want_scores)) > TOL:
        errors.append(f"scores {got_scores.tolist()} != {want_scores.tolist()}")
    pos = {cid: i for i, cid in enumerate(ids)}
    for cid, s in zip(got_ids, got_scores):
        if cid not in pos or abs(scores[pos[cid]] - s) > TOL:
            errors.append(f"hit {cid} has score {s}, exact {scores[pos.get(cid, 0)]}")
    if got_ids[0] != want_id or abs(got_scores[0] - 1.0) > 1e-5:
        errors.append(f"top hit {got_ids[0]} {got_scores[0]}, expected {want_id} ~1")
    return errors


def check_first_hit(result: dict, want_id: str) -> list[str]:
    nodes = result.get("nodes", [])
    if not nodes or nodes[0]["id"] != want_id:
        return [f"first hit {nodes[0]['id'] if nodes else None}, expected {want_id}"]
    return []


def check_node(result: dict, want_id: str, want_text: str) -> list[str]:
    node = result.get("node") or {}
    if not result.get("found") or node.get("chunk_id") != want_id or node.get(
        "text"
    ) != want_text:
        return [f"lookup of {want_id} returned {str(result)[:120]}"]
    return []


def self_test(cases: list[tuple]) -> list[str]:
    """Each case is (name, check, args, tamper), where ``args`` already
    passed ``check``: the check must fail once ``tamper`` has edited a deep
    copy of them."""
    errors = []
    for name, check, args, tamper in cases:
        bad = copy.deepcopy(args)
        tamper(*bad)
        if not check(*bad):
            errors.append(f"self-test {name}: tampered output passed its check")
    return errors
