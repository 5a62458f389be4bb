"""The benchmark's workloads. Each op is one in-process ``rag-spark`` CLI
call (``rag_content_spark.cli.main``) whose stdout is captured and parsed.

In a traced run each op also yields layer times: spans around the CLI's
calls into the package and around calls the benchmark makes into the
package's public functions after the op.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import statistics
import time

import checks
from corpus import make_corpus
from spans import instrument

# (module, function) pairs of the package the build CLI calls; each call
# is a span in a traced run
BUILD_CALLS = [
    ("rag_content_spark.sources.directory", "read_text_documents"),
    ("rag_content_spark.plans.build_pipeline", "build_chunks"),
    ("rag_content_spark.sinks.parquet_sink", "write_index"),
    ("rag_content_spark.sinks.llamastack_store", "write_llamastack_faiss"),
    ("rag_content_spark.sinks.exports", "build_metadata_json"),
    ("rag_content_spark.sinks.exports", "write_metadata_json"),
]


def run_cli(argv: list[str]) -> tuple[float, dict]:
    """One CLI call; returns (wall seconds, the JSON it printed last)."""
    from rag_content_spark import cli

    buf = io.StringIO()
    t = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    wall = time.perf_counter() - t
    if rc != 0:
        raise RuntimeError(f"rag-spark {argv[0]} exited {rc}")
    return wall, json.loads(buf.getvalue().strip().splitlines()[-1])


def force(df) -> None:
    """Run a plan to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def persisted_frames(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Build:
    """``rag-spark build`` at its shipped defaults, except ``--dim``, over a
    fresh seeded folder per op (a fresh folder stands for a fresh CLI
    process: the CLI leaves its chunk frame cached, see NOTES.md (c))."""

    def __init__(self, ctx, dim: int, pages: int, median_sections: float,
                 sigma: float, words: tuple[int, int], unit: str):
        self.ctx, self.dim, self.pages = ctx, dim, pages
        self.shape = (median_sections, sigma, words)
        self.unit = unit
        # one warm-up op; each op is a block of its own
        self.warm_ops, self.block = 1, 1
        self.tamper_cases: list[tuple] = []
        self.reset()

    def reset(self) -> None:
        """Forget what was measured so far (the warm-up ops)."""
        self.walls: list[float] = []
        self.units = 0
        self.layers: dict[str, list[float]] = {}

    def setup(self, rep: int) -> None:
        """One small build, so the measured ops run in a warmed session."""
        folder = os.path.join(self.ctx.work, f"warm-{rep}")
        make_corpus(folder, self.ctx.seed * 1000 + 900 + rep, 1, *self.shape)
        run_cli(["build", "-f", folder, "-o", folder + "-out", "--dim", str(self.dim)])

    def prepare(self) -> list[str]:
        return []

    def op(self, i: int) -> list[str]:
        ctx = self.ctx
        folder = os.path.join(ctx.work, f"docs-{i}")
        out = os.path.join(ctx.work, f"out-{i}")
        corpus = make_corpus(folder, ctx.seed * 1000 + i, self.pages, *self.shape)
        if ctx.traced:
            ctx.spark.catalog.clearCache()
        with instrument(ctx.tracer, BUILD_CALLS), ctx.tracer.span("cli.build") as s_cli:
            wall, meta = run_cli(["build", "-f", folder, "-o", out, "--dim", str(self.dim)])
        self.walls.append(wall)
        self.last_wall = wall
        self.units += corpus.pages if self.unit == "files" else corpus.expected_chunks
        index = checks.read_index(out, ["chunk_id", "text", "embedding"])
        db = os.path.join(out, "faiss_store.db")
        errors = checks.check_build(corpus, index, checks.read_store_ids(db))
        if meta.get("total-embedded-files") != corpus.pages:
            errors.append(f"metadata.json counts {meta.get('total-embedded-files')} files")
        errors += checks.check_vectors(index, self.dim)
        if ctx.traced:
            self._split(corpus, wall, out, s_cli)
        if i == 0:
            self.tamper_cases = self._tamper_cases(corpus, index, db)
        return errors

    def self_test(self) -> list[str]:
        return checks.self_test(self.tamper_cases)

    def _tamper_cases(self, corpus, index, db) -> list[tuple]:
        store = checks.read_store_ids(db)

        def drop_chunk(idx, _store):
            for col in idx.values():
                col.pop()

        def swap_text(idx, _store):
            idx["text"][0] = idx["text"][-1]

        def drop_store_row(_idx, st):
            st.pop()

        def build(idx, st):
            return checks.check_build(corpus, idx, st)

        def nudge(idx, _dim):
            idx["embedding"][0][-1] += 2e-6

        return [
            ("build-drop-chunk", build, (index, store), drop_chunk),
            ("build-dup-text", build, (index, store), swap_text),
            ("build-store-count", build, (index, store), drop_store_row),
            ("build-vector", checks.check_vectors, (index, self.dim), nudge),
        ]

    def _split(self, corpus, wall: float, out: str, s_cli: dict) -> None:
        """Layer self times of one build op.

        The CLI's calls into the package were timed as spans (``BUILD_CALLS``);
        the CLI's self time is what is left. Spark is lazy, so the
        ``write_index`` call runs the whole build plan: its time is split
        by forcing the plan's prefixes one by one afterwards (each from
        scratch, cache cleared) and differencing them; the sink keeps the
        rest of the call.
        """
        from rag_content_spark.embedding.mock import mock_embedding_expr
        from rag_content_spark.operators.chunking import split_markdown
        from rag_content_spark.operators.filters import (
            apply_unreachable_policy,
            valid_chunk,
        )
        from rag_content_spark.operators.metadata import populate_metadata
        from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks
        from rag_content_spark.sources.directory import read_text_documents

        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        calls: dict[str, float] = {}
        for sp in tr.spans:
            if sp["parent"] is not None and tr.spans[sp["parent"]] is s_cli:
                calls[sp["name"]] = calls.get(sp["name"], 0.0) + sp["end"] - sp["start"]
        rec: dict[str, float] = {"cli.persisted_frames": persisted_frames(spark)}
        spark.catalog.clearCache()
        cfg = BuildConfig(embedding_dimension=self.dim)
        docs = read_text_documents(spark, corpus.folder)
        meta = apply_unreachable_policy(populate_metadata(docs), "warn")
        units = split_markdown(meta)
        kept = units.filter(valid_chunk("section_text", "doc_type"))
        chunks = build_chunks(docs, cfg)
        embedded = build_chunks(
            docs, cfg,
            embedder=lambda c: mock_embedding_expr(c, dim=self.dim, normalize=True),
        )
        prefixes = [("sources.scan", docs), ("operators.metadata", meta),
                    ("operators.split_filter", kept), ("operators.chunk", chunks),
                    ("embedding.embed", embedded)]
        marginal, prev = {}, 0.0
        with tr.span("build.split"):
            for name, df in prefixes:
                with tr.span(name) as s:
                    force(df)
                marginal[name] = (s["end"] - s["start"]) - prev
                prev = s["end"] - s["start"]
        n_units, n_kept = units.count(), kept.count()
        n_chunks = chunks.count()

        write_s = calls.get("sinks.write_index", 0.0)
        rec.update({
            "sources.read_s": calls.get("sources.read_text_documents", 0.0)
            + marginal["sources.scan"],
            "sources.files": corpus.pages,
            "sources.bytes": corpus.bytes,
            "operators.metadata_s": marginal["operators.metadata"],
            "operators.split_filter_s": marginal["operators.split_filter"],
            "operators.chunk_s": marginal["operators.chunk"],
            "operators.chunks": n_chunks,
            "operators.units_kept_ratio": n_kept / n_units,
            "embedding.embed_s": marginal["embedding.embed"],
            "embedding.embed_ms_per_chunk": 1000 * marginal["embedding.embed"] / n_chunks,
            "plans.build_chunks_plan_ms": 1000 * calls.get("plans.build_chunks", 0.0),
            "sinks.write_index_s": write_s - prev,
            "sinks.index_bytes": dir_bytes(os.path.join(out, "index")),
            "sinks.llamastack_s": calls.get("sinks.write_llamastack_faiss", 0.0),
            "sinks.llamastack_bytes": dir_bytes(os.path.join(out, "faiss_store.db")),
            "sinks.metadata_s": calls.get("sinks.build_metadata_json", 0.0)
            + calls.get("sinks.write_metadata_json", 0.0),
            "cli.build_other_s": wall - sum(calls.values()),
            # share of the write_index call the forced prefixes account for
            "trace.split_coverage": prev / write_s,
        })
        for k, v in rec.items():
            self.layers.setdefault(k, []).append(v)

    def metrics(self) -> dict[str, float]:
        return {
            "op_ms_p50": 1000 * statistics.median(self.walls),
            "items_per_s": self.units / sum(self.walls),
        }

    def layer_metrics(self) -> dict[str, float]:
        return {k: statistics.fmean(v) for k, v in self.layers.items()}


# The warm-up calls each mode once. A measured block holds the calls in a
# fixed order; with four vector calls in seven, the median falls on a
# vector call instead of between two modes.
WARM_MODES = ["vector", "keyword", "hybrid", "node"]
MODES = ["vector", "keyword", "vector", "hybrid", "vector", "node", "vector"]


class Query:
    """A closed loop of one client issuing ``rag-spark query`` calls against
    one index, in blocks of ``MODES`` with seeded query texts."""

    def __init__(self, ctx, dim: int, pages: int, median_sections: float,
                 sigma: float, words: tuple[int, int]):
        self.ctx, self.dim = ctx, dim
        self.corpus_args = (pages, median_sections, sigma, words)
        self.rng = random.Random(ctx.seed)
        self.checked: list[tuple] = []
        self.warm_ops, self.block = len(WARM_MODES), len(MODES)
        self.reset()

    def reset(self) -> None:
        """Forget what was measured so far (the warm-up calls)."""
        self.walls: dict[str, list[float]] = {m: [] for m in set(MODES)}
        self.layers: dict[str, list[float]] = {}

    def setup(self, rep: int) -> None:
        """Build the index through the library, as the CLI's build would
        with the vectorised twin of its embedder."""
        from rag_content_spark.embedding.mock import mock_embed_udf
        from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks
        from rag_content_spark.sinks.exports import (
            build_metadata_json,
            write_metadata_json,
        )
        from rag_content_spark.sinks.parquet_sink import write_index
        from rag_content_spark.sources.directory import read_text_documents

        ctx = self.ctx
        folder = os.path.join(ctx.work, f"qdocs-{rep}")
        self.db = os.path.join(ctx.work, f"qindex-{rep}")
        self.corpus = make_corpus(folder, ctx.seed, *self.corpus_args)
        cfg = BuildConfig(embedding_dimension=self.dim)
        embed = mock_embed_udf(self.dim, normalize=True)
        docs = read_text_documents(ctx.spark, folder)
        write_index(build_chunks(docs, cfg, embedder=embed), os.path.join(self.db, "index"))
        write_metadata_json(
            os.path.join(self.db, "metadata.json"),
            build_metadata_json(
                execution_time_s=0, embedding_model=cfg.embedding_model,
                index_id="index", vector_db="parquet", embedding_dimension=self.dim,
                chunk=cfg.chunk_size, overlap=cfg.chunk_overlap,
                total_embedded_files=self.corpus.pages,
            ),
        )

    def prepare(self) -> list[str]:
        """Read the index back with pyarrow and check it against the corpus
        and the mock formula; keep what the query checks need."""
        index = checks.read_index(self.db, ["chunk_id", "text", "embedding"])
        errors = checks.check_build(self.corpus, index, index["chunk_id"])
        self.ids, self.texts = index["chunk_id"], index["text"]
        self.vecs = checks.mock_vectors(self.texts, self.dim)
        errors += checks.check_vectors(index, self.dim, want=self.vecs)
        self.marker_row = {}
        for row, text in enumerate(self.texts):
            for tok in text.split():
                if tok in self.corpus.sections:
                    self.marker_row[tok] = row
        self.markers = sorted(self.marker_row)
        return errors

    def op(self, i: int) -> list[str]:
        mode = (WARM_MODES[i] if i < self.warm_ops
                else MODES[(i - self.warm_ops) % len(MODES)])
        row = self.rng.randrange(len(self.ids))
        base = ["query", "-d", self.db]
        if mode == "node":
            argv = base + ["-n", self.ids[row]]
        elif mode == "keyword":
            marker = self.rng.choice(self.markers)
            row = self.marker_row[marker]
            argv = base + ["-q", marker, "-m", "keyword", "-k", "5"]
        else:
            argv = base + ["-q", self.texts[row], "-m", mode, "-k", "5"]
        wall, result = run_cli(argv)
        self.walls[mode].append(wall)
        self.last_wall = wall
        errors = self._check(mode, row, result)
        if i < self.warm_ops:
            self.checked.append((mode, row, result))
        if self.ctx.traced:
            self._split(mode, row, argv, wall)
        return errors

    def _check(self, mode: str, row: int, result: dict) -> list[str]:
        if mode == "vector":
            return checks.check_vector_hits(
                result, self.ids, self.vecs, self.vecs[row], 5, self.ids[row]
            )
        if mode == "node":
            return checks.check_node(result, self.ids[row], self.texts[row])
        return checks.check_first_hit(result, self.ids[row])

    def self_test(self) -> list[str]:
        def wrong_first(_mode, _row, res):
            res.setdefault("nodes", []).insert(0, {"id": "x#0#0", "score": 1.0})
            if res.get("node"):
                res["node"]["text"] += " tampered"

        return checks.self_test(
            [(f"query-{case[0]}", self._check, case, wrong_first) for case in self.checked]
        )

    def _split(self, mode: str, row: int, argv: list[str], wall: float) -> None:
        from pyspark.sql import functions as F

        from rag_content_spark.operators.search import hybrid_scores, keyword_scores
        from rag_content_spark.plans.query import lookup_node, query_index
        from rag_content_spark.sinks.parquet_sink import read_index

        spark, tr = self.ctx.spark, self.ctx.tracer
        q = argv[argv.index("-q") + 1] if "-q" in argv else None
        rec: dict[str, float] = {}

        @contextlib.contextmanager
        def step(name):
            with tr.span(name) as s:
                yield
            rec[f"{name}_ms"] = 1000 * (s["end"] - s["start"])

        with tr.span("query.split"):
            with step("sinks.read_index"):
                index = read_index(spark, os.path.join(self.db, "index"))
            if mode == "node":
                with step("plans.lookup_node"):
                    lookup_node(index, argv[-1])
            elif mode == "vector":
                with step("embedding.query_embed"):
                    qvec = self._embed(q)
                with step("plans.query_index"):
                    query_index(index, q, qvec, k=5)
            else:
                terms = q.lower().split()
                if mode == "hybrid":
                    with step("embedding.query_embed"):
                        qvec = self._embed(q)
                with step(f"operators.search.{mode}"):
                    scored = (
                        keyword_scores(index, terms, id_col="chunk_id")
                        .withColumnRenamed("kw_score", "score")
                        if mode == "keyword"
                        else hybrid_scores(index, terms, qvec, id_col="chunk_id")
                        .withColumnRenamed("hybrid_score", "score")
                    )
                    scored.join(index.select("chunk_id", "text"), "chunk_id").orderBy(
                        F.desc("score"), F.asc("chunk_id")
                    ).limit(5).collect()
        overhead = 1000 * wall - sum(rec.values())
        if mode in ("node", "keyword"):
            rec[f"cli.{'query' if mode == 'node' else 'keyword'}_overhead_ms"] = overhead
        for k, v in rec.items():
            self.layers.setdefault(k, []).append(v)

    def _embed(self, q: str) -> list[float]:
        """The one-row query embedding, as ``cmd_query`` does it."""
        from pyspark.sql import functions as F

        from rag_content_spark.embedding.mock import mock_embedding_expr

        return list(
            self.ctx.spark.createDataFrame([(q,)], ["text"])
            .select(mock_embedding_expr(F.col("text"), dim=self.dim, normalize=True).alias("v"))
            .collect()[0]["v"]
        )

    def metrics(self) -> dict[str, float]:
        walls = [w for ws in self.walls.values() for w in ws]
        return {
            "op_ms_p50": 1000 * statistics.median(walls),
            "items_per_s": len(walls) / sum(walls),
        }

    def layer_metrics(self) -> dict[str, float]:
        walls = sorted(w for ws in self.walls.values() for w in ws)
        out = {k: statistics.median(v) for k, v in self.layers.items()}
        for mode, ws in self.walls.items():
            out[f"cli.query_{mode}_ms_p50"] = 1000 * statistics.median(ws)
        out["cli.query_p90_ms"] = 1000 * walls[min(len(walls) - 1, int(0.9 * len(walls)))]
        out["cli.query_samples"] = len(walls)
        return out
