"""Benchmark workloads: what a pass runs, how its output is checked, and the
prefix cuts a traced run times.

A workload writes its inputs (``generate``), builds its plans on a session
(``prepare``), runs one closed-loop pass (``run_pass``, returns documents
completed), checks its outputs outside the timed section (``gates``) and,
in a traced run, times each layer (``layers``). The probes (``CommitProbe``,
``AnnProbe``) run only inside a traced run, for paths no workload's pass
runs (see README.md for why); their gate results join that run's gates.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import gen
from tracing import Tracer

from text_extraction_system_spark import lineage, pipeline
from text_extraction_system_spark.core import oracle, spec
from text_extraction_system_spark.operators import curation, dedup, layout, restitch
from text_extraction_system_spark.operators import derive_spans as ds
from text_extraction_system_spark.operators import similarity, structure, textstats

#: the 256-span cutoff job.py and extract_from_documents use
FANOUT = restitch.DEFAULT_FANOUT_THRESHOLD
#: near-dup pairs at or above this Jaccard count as verified (the
#: dup_clusters query's threshold)
VERIFY_JACCARD = 0.5
#: every 97th doc is the held-out eval set (the decontaminate query's split)
DECONTAM_EVAL_MOD = 97


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sample(ids: list[int], n: int, seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 99])
    return sorted(rng.choice(ids, min(n, len(ids)), replace=False).tolist())


def _oracle_diff(row: dict, text: str, with_structure: bool) -> str | None:
    """First field where a result row differs from core.oracle.extract."""
    exp = oracle.extract(str(row["doc_id"]), text)
    got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["out_spans"]]
    fields = {
        "needs_ocr": (row["needs_ocr"], exp.needs_ocr),
        "parse_failures": (list(row["parse_failures"]), exp.parse_failures),
        "out_spans": (got_spans, [(s.kind, s.text, s.media_ref, s.offset)
                                  for s in exp.out_spans]),
        "plain_text": (row["plain_text"], exp.plain_text),
        "pages": (row["pages"], exp.pages),
    }
    if with_structure:
        st = row["structure"]
        fields.update({
            "structure.language": (st["language"], exp.language),
            "structure.title": (st["title"], exp.title),
            "structure.paragraphs": (st["paragraphs"], exp.paragraphs),
            "structure.sentences": (st["sentences"], exp.sentences),
            "structure.sections": (st["sections"], exp.sections),
        })
    for name, (got, want) in fields.items():
        if got != want:
            return f"doc {row['doc_id']}: {name} differs from core.oracle"
    return None


def _check_oracle(rows, texts: dict[int, str], want: int, with_structure: bool
                  ) -> tuple[bool, str]:
    rows = [r.asDict(recursive=True) for r in rows]
    if len(rows) != want:
        return False, f"{len(rows)} sampled rows, expected {want}"
    for r in rows:
        diff = _oracle_diff(r, texts[int(r["doc_id"])], with_structure)
        if diff:
            return False, diff
    return True, f"{want} docs equal core.oracle"


class Extract:
    """``pipeline.extract_from_documents`` (default engine, with structure)
    over a long-tail corpus into the noop sink."""

    name = "extract"
    DOCS, LONG, SPLITS = 8000, 80, 8
    #: cuts that together run what one pass runs
    top_cuts = ("pipeline.short_docs", "pipeline.long_docs")

    def __init__(self, seed: int, work: str, scale: int):
        self.seed, self.scale = seed, scale
        self.path = os.path.join(work, "extract")
        self.commit = CommitProbe(seed, work, scale)

    def generate(self) -> dict:
        table, stats = gen.longtail(self.seed, self.DOCS * self.scale,
                                    self.LONG * self.scale, self.SPLITS)
        gen.write_splits(table, self.path, self.SPLITS)
        self.long_ids = stats.pop("long_ids")
        self.texts = dict(zip(table.column("doc_id").to_pylist(),
                              table.column("text").to_pylist()))
        self.n_docs = stats["docs"]
        stats["digest"] = gen.digest(table)
        return stats

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.path)
        self.res = pipeline.extract_from_documents(self.docs)

    def run_pass(self, spark) -> int:
        noop(self.res)
        return self.n_docs

    def gates(self, spark) -> list[tuple[str, bool, str]]:
        n = self.res.count()
        short = sorted(set(self.texts) - set(self.long_ids))
        sample = _sample(short, 100, self.seed) + self.long_ids
        rows = self.res.where(F.col("doc_id").isin([str(i) for i in sample])).collect()
        ok, detail = _check_oracle(rows, self.texts, len(sample), with_structure=True)
        return [
            ("extract.row_count", n == self.n_docs, f"{n} rows for {self.n_docs} docs"),
            ("extract.oracle_sample", ok, detail),
        ]

    def layers(self, spark, tr: Tracer, reps: int) -> dict[str, float]:
        long_ids = F.col("doc_id").isin(self.long_ids)
        short_docs, long_docs = self.docs.where(~long_ids), self.docs.where(long_ids)
        cuts = {
            "pipeline.short_docs": lambda: pipeline.extract_from_documents(short_docs),
            "cut.long.derive": lambda: ds.derive_spans(long_docs),
            "cut.long.fanout": lambda: restitch.process_spans_fanout(
                ds.derive_spans(long_docs), may_have_empty=False),
            "cut.long.assemble": lambda: layout.assemble(restitch.process_spans_fanout(
                ds.derive_spans(long_docs), may_have_empty=False), dense=True),
            "pipeline.long_docs": lambda: structure.with_structure(layout.assemble(
                restitch.process_spans_fanout(ds.derive_spans(long_docs),
                                              may_have_empty=False), dense=True)),
        }
        for i in range(reps + 1):
            for name, build in cuts.items():
                with tr.span(tr.name(name, i)):
                    noop(build())
        m = tr.median
        out = {
            "pipeline.short_docs_s": m("pipeline.short_docs"),
            "pipeline.long_docs_s": m("pipeline.long_docs"),
            "derive_spans.long_self_s": m("cut.long.derive"),
            "restitch.fanout_self_s": m("cut.long.fanout") - m("cut.long.derive"),
            "layout.long_self_s": m("cut.long.assemble") - m("cut.long.fanout"),
            "structure.self_s": m("pipeline.long_docs") - m("cut.long.assemble"),
            "restitch.fanout_docs": float(len(self.long_ids)),
        }
        out.update(self.commit.layers(spark, tr, reps))
        return out


class CommitProbe:
    """The job.py path, run only in extract's traced run: ``derive_spans``
    feeds ``lineage.run_extraction`` into an empty base, then a resume run
    over the input grown by new docs (zstd parquet output)."""

    DOCS, NEW, SPLITS = 4000, 1000, 4

    def __init__(self, seed: int, work: str, scale: int):
        self.seed, self.scale = seed, scale
        self.base_path = os.path.join(work, "commit", "base")
        self.new_path = os.path.join(work, "commit", "new")
        self.out = os.path.join(work, "commit", "out")

    def generate(self) -> dict:
        base, new, stats = gen.uniform(self.seed, self.DOCS * self.scale,
                                       self.NEW * self.scale)
        gen.write_splits(base, self.base_path, self.SPLITS)
        gen.write_splits(new, self.new_path, self.SPLITS)
        self.texts = dict(zip(base.column("doc_id").to_pylist() + new.column("doc_id").to_pylist(),
                              base.column("text").to_pylist() + new.column("text").to_pylist()))
        self.n_base, self.n_new = stats["docs"], stats["new_docs"]
        return stats

    def _commit_pass(self, spark, tr: Tracer, rep: int) -> list[str]:
        shutil.rmtree(self.out, ignore_errors=True)
        fails = []
        base = ds.derive_spans(spark.read.parquet(self.base_path))
        grown = ds.derive_spans(spark.read.parquet(self.base_path, self.new_path))
        with tr.span(tr.name("lineage.run", rep)):
            r1 = lineage.run_extraction(spark, base, self.out, run_id="fresh",
                                        fanout_threshold=FANOUT, num_partitions=0)
        with tr.span(tr.name("lineage.resume", rep)):
            r2 = lineage.run_extraction(spark, grown, self.out, run_id="resume",
                                        fanout_threshold=FANOUT, num_partitions=0)
        if (r1["docs_processed"], r1["docs_skipped"]) != (self.n_base, 0):
            fails.append(f"fresh run: {r1}")
        if (r2["docs_processed"], r2["docs_skipped"]) != (self.n_new, self.n_base):
            fails.append(f"resume run: {r2}")
        return fails

    def gates(self, spark) -> list[tuple[str, bool, str]]:
        res = spark.read.parquet(os.path.join(self.out, "results"))
        n, distinct = res.count(), res.select("doc_id").distinct().count()
        want = self.n_base + self.n_new
        sample = _sample(sorted(self.texts), 100, self.seed)
        rows = res.where(F.col("doc_id").isin(sample)).collect()
        ok, detail = _check_oracle(rows, self.texts, len(sample), with_structure=False)
        return [
            ("commit.results", n == distinct == want,
             f"{n} rows, {distinct} distinct doc_ids, {want} docs committed"),
            ("commit.oracle_sample", ok, detail),
        ]

    def layers(self, spark, tr: Tracer, reps: int) -> dict[str, float]:
        self.generate()
        docs = spark.read.parquet(self.base_path)
        cuts = {
            "cut.commit.derive": lambda: ds.derive_spans(docs),
            "cut.commit.restitch": lambda: restitch.process_spans(ds.derive_spans(docs), FANOUT),
            "cut.commit.assemble": lambda: layout.assemble(
                restitch.process_spans(ds.derive_spans(docs), FANOUT)),
        }
        fails: list[str] = []
        for i in range(reps + 1):
            for name, build in cuts.items():
                with tr.span(tr.name(name, i)):
                    noop(build())
            fails += self._commit_pass(spark, tr, i)
        self.gate_results = self.gates(spark) + [
            ("commit.run_counts", not fails, "; ".join(fails) or "processed/skipped as expected")]
        results = os.path.join(self.out, "results")
        files = [os.path.join(d, f) for d, _, fs in os.walk(results)
                 for f in fs if f.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        m = tr.median
        return {
            "derive_spans.self_s": m("cut.commit.derive"),
            "restitch.inline_self_s": m("cut.commit.restitch") - m("cut.commit.derive"),
            "layout.self_s": m("cut.commit.assemble") - m("cut.commit.restitch"),
            "lineage.run_s": m("lineage.run"),
            "lineage.resume_s": m("lineage.resume"),
            "lineage.self_s": m("lineage.run") - m("cut.commit.assemble"),
            "lineage.bytes_written": float(written),
            "lineage.files_written": float(len(files)),
            "lineage.bytes_per_doc": written / (self.n_base + self.n_new),
        }


class Curate:
    """The curation funnel, near-dup pairs, duplicated-window coverage,
    TF-IDF keywords and decontamination over a planted-duplicate corpus."""

    name = "curate"
    DOCS, SPLITS, EXACT_RATE, NEAR_RATE = 4000, 4, 0.03, 0.02
    top_cuts = ("curation.funnel", "dedup.near_dup", "dedup.dup_windows",
                "textstats.tfidf", "dedup.decontaminate")

    def __init__(self, seed: int, work: str, scale: int):
        self.seed, self.scale = seed, scale
        self.path = os.path.join(work, "curate")
        self.ann = AnnProbe(seed, work, scale)

    def generate(self) -> dict:
        table, stats = gen.planted(self.seed, self.DOCS * self.scale,
                                   self.EXACT_RATE, self.NEAR_RATE)
        gen.write_splits(table, self.path, self.SPLITS)
        self.exact_pairs = stats.pop("exact_pairs")
        self.near_pairs = stats.pop("near_pairs")
        self.texts = dict(zip(table.column("doc_id").to_pylist(),
                              table.column("text").to_pylist()))
        self.n_docs = stats["docs"]
        stats["digest"] = gen.digest(table)
        return stats

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.path)
        self.train = self.docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD != 0)
        self.eval = self.docs.where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        self.ops = {
            "curation.funnel": lambda: curation.funnel(self.docs),
            "dedup.near_dup": lambda: dedup.near_dup_pairs(self.docs),
            "dedup.dup_windows": lambda: dedup.dup_window_coverage(self.docs),
            "textstats.tfidf": lambda: textstats.tfidf_keywords(self.docs, k=3),
            "dedup.decontaminate": lambda: dedup.contamination_report(self.train, self.eval),
        }

    def run_pass(self, spark) -> int:
        # plans are built per pass: near_dup and tfidf localCheckpoint their
        # intermediate tables, so a reused DataFrame would skip that work
        for build in self.ops.values():
            noop(build())
        return self.n_docs

    def expected_candidates(self) -> dict[tuple[int, int], float]:
        """Pairs sharing a MinHash-LSH band per core.spec (buckets above
        dedup.MAX_BUCKET dropped), each with its exact shingle Jaccard —
        an independent implementation of what near_dup_pairs must return."""
        k, perms, bands = spec.SHINGLE_K, spec.MINHASH_PERMS, spec.LSH_BANDS
        rows = perms // bands
        a = np.array([((2 * p + 1) * spec.MINHASH_MULT) % spec.MINHASH_MOD
                      for p in range(perms)], dtype=np.int64)
        shingles, buckets = {}, {}
        for doc_id, text in self.texts.items():
            words = [w for w in text.split(" ") if w]
            sh = {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}
            if not sh:
                continue
            shingles[doc_id] = sh
            h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:spec.FP_HEX_CHARS], 16)
                          % spec.MINHASH_MOD for s in sh], dtype=np.int64)
            sig = ((h[None, :] * a[:, None] + np.arange(perms)[:, None])
                   % spec.MINHASH_MOD).min(axis=1).tolist()
            for b in range(bands):
                key = (b, hashlib.md5(",".join(str(x) for x in sig[b * rows:(b + 1) * rows])
                                      .encode()).hexdigest())
                buckets.setdefault(key, []).append(doc_id)
        pairs = {}
        for ids in buckets.values():
            if len(ids) > dedup.MAX_BUCKET:
                continue
            for i, x in enumerate(ids):
                for y in ids[i + 1:]:
                    p = (min(x, y), max(x, y))
                    sa, sb = shingles[p[0]], shingles[p[1]]
                    pairs[p] = len(sa & sb) / len(sa | sb)
        return pairs

    def gates(self, spark) -> list[tuple[str, bool, str]]:
        out = []
        f = curation.funnel(self.docs).collect()
        removed = sum(r["n_tokens_ok"] - r["n_deduped"] for r in f)
        out.append(("curate.exact_groups_collapse", removed == len(self.exact_pairs),
                    f"funnel dedup removed {removed}, planted exact copies "
                    f"{len(self.exact_pairs)}"))
        # doc_a < doc_b holds for the string ids near_dup_pairs compares
        got = {tuple(sorted((int(r["doc_a"]), int(r["doc_b"])))): r["jaccard"]
               for r in dedup.near_dup_pairs(self.docs).collect()}
        want = self.expected_candidates()
        bad_j = [p for p in want if p in got and abs(got[p] - want[p]) > 1e-9]
        planted = [tuple(p) for p in self.exact_pairs + self.near_pairs]
        missed = [p for p in planted if want.get(p, 0) >= VERIFY_JACCARD and p not in got]
        out.append(("curate.near_dup_pairs", set(got) == set(want) and not bad_j and not missed,
                    f"{len(got)} pairs returned, {len(want)} expected by the spec's LSH, "
                    f"{len(bad_j)} with wrong Jaccard, {len(missed)} planted pairs above "
                    f"{VERIFY_JACCARD} missed"))
        ids = sorted({i for p in self.exact_pairs for i in p})
        cov = dedup.dup_window_coverage(self.docs).where(F.col("doc_id").isin(ids)).collect()
        full = all(r["dup_windows"] == r["n_windows"] > 0 for r in cov)
        out.append(("curate.dup_windows_planted", full and len(cov) == len(ids),
                    f"{len(cov)} of {len(ids)} planted exact copies fully covered"
                    if full else "a planted exact copy has an unshared window"))
        self.pairs = got
        return out

    def layers(self, spark, tr: Tracer, reps: int) -> dict[str, float]:
        for i in range(reps + 1):
            for name, build in self.ops.items():
                with tr.span(tr.name(name, i)):
                    noop(build())
        pairs = self.pairs  # set by gates(), which a traced run calls first
        verified = sum(1 for j in pairs.values() if j >= VERIFY_JACCARD)
        m = tr.median
        out = {
            "curation.funnel_s": m("curation.funnel"),
            "dedup.near_dup_s": m("dedup.near_dup"),
            "dedup.candidate_pairs": float(len(pairs)),
            "dedup.verified_pairs": float(verified),
            "dedup.pair_yield": verified / len(pairs) if pairs else 0.0,
            "dedup.dup_windows_s": m("dedup.dup_windows"),
            "dedup.decontaminate_s": m("dedup.decontaminate"),
            "textstats.tfidf_s": m("textstats.tfidf"),
        }
        out.update(self.ann.layers(spark, tr, reps))
        return out


class AnnProbe:
    """IVF/PQ training and three serving paths over clustered embeddings,
    run only in curate's traced run."""

    VECTORS, SPLITS, QUERIES, K, RERANK = 10000, 4, 20, 5, 50

    def __init__(self, seed: int, work: str, scale: int):
        self.seed, self.scale = seed, scale
        self.path = os.path.join(work, "ann")

    def layers(self, spark, tr: Tracer, reps: int) -> dict[str, float]:
        table, _ = gen.embeddings(self.seed, self.VECTORS * self.scale)
        gen.write_splits(table, self.path, self.SPLITS)
        emb = spark.read.parquet(self.path)
        with tr.span("similarity.train"):
            cents = similarity.ivf_train(emb, iters=5)
            books = similarity.pq_train(emb)
        kw = {"n_queries": self.QUERIES, "k": self.K}
        paths = {
            "similarity.brute_force": lambda: similarity.brute_force_topk(emb, **kw),
            "similarity.pq_rerank": lambda: similarity.pq_topk(emb, books, rerank=self.RERANK, **kw),
            "similarity.ivf_pq": lambda: similarity.ivf_pq_topk(emb, cents, books, **kw),
        }
        got = {}
        for i in range(reps + 1):
            for name, build in paths.items():
                with tr.span(tr.name(name, i)):
                    got[name] = build().collect()
        exact = self._exact_topk(table)
        bf = {}
        for r in got["similarity.brute_force"]:
            bf.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"]))
        bf_ok = all([c for _, c in sorted(v)] == exact[q] for q, v in bf.items()) \
            and len(bf) == self.QUERIES
        self.gate_results = [("ann.brute_force_exact", bf_ok,
                              "brute_force_topk equals numpy exact top-k"
                              if bf_ok else "brute_force_topk differs from numpy")]
        approx = {}
        for r in got["similarity.pq_rerank"]:
            approx.setdefault(r["query_id"], set()).add(r["cand_id"])
        hits = sum(len(approx.get(q, set()) & set(ids)) for q, ids in exact.items())
        m = tr.median
        return {
            "similarity.train_s": tr.spans["similarity.train"][0],
            "similarity.brute_force_s": m("similarity.brute_force"),
            "similarity.pq_rerank_s": m("similarity.pq_rerank"),
            "similarity.ivf_pq_s": m("similarity.ivf_pq"),
            "similarity.recall_at_k": hits / (self.K * self.QUERIES),
        }

    def _exact_topk(self, table) -> dict[int, list[int]]:
        """numpy exact cosine top-k for the first QUERIES ids (self excluded,
        ties by id)."""
        x = np.asarray(table.column("embedding").to_pylist(), dtype=np.float64)
        ids = np.asarray(table.column("vec_id").to_pylist())
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        out = {}
        for q in range(self.QUERIES):
            cos = xn @ xn[q]
            cos[q] = -np.inf
            order = np.lexsort((ids, -cos))[: self.K]
            out[int(ids[q])] = [int(i) for i in ids[order]]
        return out


WORKLOADS = {"extract": Extract, "curate": Curate}
