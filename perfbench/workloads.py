"""The benchmark workloads: input, timed operation, output check, layer probes.

Two workloads, each one operation over generated files, run in a closed loop
with one client (the next operation starts when the previous one has
committed its result):

* ``webkg_fused`` — the fused Arrow kernel (``fused_triple_partials_arrow``
  -> ``canonicalize_from_partials``) over pages that all carry relation
  cues, entities picked uniformly.
* ``staged_cdr`` — two checkpointed batch plans, one after the other:
  ``webkg_staged``, the checkpointed pipeline (``run_web_kg`` ->
  ``TripleCatalog.write_triples``) over a crawl mix of mostly cue-free pages
  with Zipf-skewed hub entities; then ``corpus_cdr``, ``read_pubtator`` ->
  ``preprocess_cdr(hints=True)`` -> ``write_tsv`` over a PubTator corpus with
  every annotation edge case.

``traced_op`` and ``layers`` serve the traced run: spans around the calls
into each module's public functions, and, because Spark is lazy, a layer's
time as the difference between materializing successive plan prefixes to a
``noop`` sink.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, List, Tuple

import gen

DEFAULT_SEED = 0  # the seed CorpusCDR.pinned pins
WARMUP_TIMEOUT_S = 90


def timed(fn) -> Tuple[float, object]:
    """(seconds, result) of ``fn()``."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> float:
    """Materialize ``df`` to the ``noop`` sink; returns seconds."""
    return timed(lambda: df.write.format("noop").mode("overwrite").save())[0]


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _triple_counts(table) -> Dict[tuple, int]:
    """{(subj_key, pred, obj_key): n_support} of a triples table, after
    checking every entity id is the md5 of its key."""
    d = table.to_pydict()
    out: Dict[tuple, int] = {}
    for s, sk, p, o, ok, n in zip(
        d["subj"], d["subj_key"], d["pred"], d["obj"], d["obj_key"], d["n_support"]
    ):
        if s != hashlib.md5(sk.encode()).hexdigest() or o != hashlib.md5(ok.encode()).hexdigest():
            return {("bad entity id", sk, ok): -1}
        key = (sk, str(p), ok)
        if key in out:  # a triple must appear once
            return {("duplicate triple",) + key: -1}
        out[key] = int(n)
    return out


def _gold_check(got: Dict[tuple, int], gold: List[list]) -> Tuple[bool, str]:
    want = {(s, p, o): c for s, p, o, c in gold}
    if got == want:
        return True, f"{len(want)} triples, {sum(want.values())} instances match gold"
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(1 for k in set(want) & set(got) if want[k] != got[k])
    return False, f"vs gold: {missing} missing, {extra} extra, {wrong} wrong n_support"


def warm_engine(spark, path: str) -> None:
    """The set-up's warm-up pass, the same for every workload: one job that
    runs 2 k generated rows through the Python workers into a parquet
    write, which starts the session's Python worker pool and its writer."""
    rows = spark.range(0, 2000, numPartitions=4).selectExpr("id", "cast(id % 97 as string) as k")
    rows.mapInPandas(lambda batches: batches, rows.schema).write.mode("overwrite").parquet(path)


class Workload:
    name = ""
    sizes: Dict[str, dict] = {}
    n_warmup = 2  # untimed operations before the timed ones

    def __init__(self, bench_dir: str, work: str, seed: int, size: str, deadline: float):
        self.bench_dir = bench_dir
        self.work = work
        self.seed = seed
        self.size = size
        self.deadline = deadline  # time.monotonic() by which the run must end
        self.cfg = self.sizes[size]

    def _input(self, key: str, make) -> Tuple[str, dict, list]:
        return gen.cached(os.path.join(self.bench_dir, ".inputs"), key, make)

    @property
    def docs(self) -> int:
        return self.props["docs"]

    def warmup(self, spark) -> None:
        """Untimed operations over the run's own input, so the timed ones run
        with Catalyst's generated code compiled, every Python worker started
        and the JIT warm (on ``webkg_fused`` one left the first timed
        operation ~20 % slower than the rest)."""
        for i in range(self.n_warmup):
            self.op(spark, os.path.join(self.work, f"warmup{i}"))

    def check_full(self, spark, out: str) -> dict:
        """Extra checks on one output that need Spark (run once per run)."""
        return {}

    def traced_op(self, spark, tracer, out: str) -> Tuple[float, dict]:
        """``op`` with spans around the calls into the program."""
        with tracer.patched(self.traced_targets()), tracer.span("op"):
            return timed(lambda: self.op(spark, out))


class WebKGFused(Workload):
    name = "webkg_fused"
    result_glob = "part-*"
    sizes = {"full": {"docs": 40000, "files": 16}, "tiny": {"docs": 400, "files": 2}}

    def prepare(self) -> dict:
        def make(cfg, seed):
            return lambda d: gen.write_pages(d, seed, cfg["docs"], "uniform", cfg["files"])

        c = self.cfg
        self.pages, self.props, self.gold = self._input(
            f"pages-uniform-{c['docs']}x{c['files']}-s{self.seed}", make(c, self.seed)
        )
        self.dict_rows = gen.dictionary_rows()
        return self.props

    def _triples(self, spark, pages: str):
        from seq2rel_ds_spark.operators import mention, triples
        from seq2rel_ds_spark.sources.pages import PREDICATES

        partials = mention.fused_triple_partials_arrow(
            spark, pages, self.dict_rows, PREDICATES, ascii_boundaries=True
        )
        return triples.canonicalize_from_partials(partials)

    def op(self, spark, out: str) -> dict:
        self._triples(spark, self.pages).write.mode("overwrite").parquet(out)
        return {}

    def check(self, out: str) -> Tuple[bool, str]:
        import pyarrow.parquet as pq

        return _gold_check(_triple_counts(pq.read_table(out)), self.gold)

    def check_full(self, spark, out: str) -> dict:
        return _prf(spark, spark.read.parquet(out), self.gold)

    def layers(self, spark, tracer, out: str, info: dict) -> dict:
        import pyarrow.parquet as pq
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from seq2rel_ds_spark.operators import extract, mention
        from seq2rel_ds_spark.sources.pages import PREDICATES

        with tracer.span("probe.partials"):
            obs = Observation("partials")
            partials = mention.fused_triple_partials_arrow(
                spark, self.pages, self.dict_rows, PREDICATES, ascii_boundaries=True
            ).observe(obs, F.count(F.lit(1)).alias("rows"), F.sum("cnt").alias("inst"))
            partials_s = _noop(partials)
            seen = obs.get
        with tracer.span("probe.merge"):
            merged_s = _noop(self._triples(spark, self.pages))

        # the kernel alone: this process, one core, no Spark, on whole files
        files = sorted(glob.glob(os.path.join(self.pages, "*.parquet")))[:2]
        html = [
            b for f in files for b in pq.read_table(f, columns=["html"]).column("html").to_pylist()
        ]
        with tracer.span("probe.extract_1core"):
            ext_s, _ = timed(lambda: [extract.extract_text_from_html(h) for h in html])
        proc = mention.make_triple_partial_processor(
            self.dict_rows, PREDICATES, ascii_boundaries=True
        )
        import pandas as pd

        pdf = pd.DataFrame({"html": html})
        with tracer.span("probe.kernel_1core"):
            kern_s, _ = timed(lambda: list(proc(pdf)))
        return {
            "sources.arrow_pages.list_s": tracer.total_s("sources.arrow_pages.list_row_groups"),
            "operators.mention.partials_s": partials_s,
            "operators.mention.partial_rows": seen["rows"],
            "operators.triples.merge_s": merged_s - partials_s,
            "operators.triples.instances_per_partial": seen["inst"] / max(seen["rows"], 1),
            "operators.extract.s_per_kdoc": ext_s / len(html) * 1000,
            "operators.mention.kernel_docs_per_s_1core": len(html) / kern_s,
        }

    def traced_targets(self) -> dict:
        from seq2rel_ds_spark.operators import mention, triples
        from seq2rel_ds_spark.sources import arrow_pages

        return {
            "sources.arrow_pages.list_row_groups": (arrow_pages, "list_row_groups"),
            "operators.mention.fused_triple_partials_arrow": (mention, "fused_triple_partials_arrow"),
            "operators.triples.canonicalize_from_partials": (triples, "canonicalize_from_partials"),
        }


STAGES = ("pages", "extract", "scan", "linked", "components", "relations", "triples")
RESUMED = ("components", "relations", "triples")  # the stages after ``linked``
# the resume, the checks and the probes after it, and the shutdown take
# ~25 s; with less than this left the traced run skips the resume
RESUME_RESERVE_S = 45


class WebKGStaged(Workload):
    name = "webkg_staged"
    result_glob = "catalog/triples/**/part-*"
    sizes = {"full": {"docs": 500, "files": 4}, "tiny": {"docs": 300, "files": 2}}
    partitions = 8

    def prepare(self) -> dict:
        def make(cfg, seed):
            return lambda d: gen.write_pages(d, seed, cfg["docs"], "crawl", cfg["files"])

        c = self.cfg
        self.pages, self.props, self.gold = self._input(
            f"pages-crawl-{c['docs']}x{c['files']}-s{self.seed}", make(c, self.seed)
        )
        return self.props

    def _run(self, spark, pages: str, n_docs: int, root: str, table: str) -> None:
        from seq2rel_ds_spark.plans import catalog, web_kg

        triples = web_kg.run_web_kg(
            spark,
            n_docs,
            os.path.join(root, "pipeline"),
            partitions=self.partitions,
            pages_df=spark.read.parquet(pages),
        )
        catalog.TripleCatalog(spark, os.path.join(root, "catalog")).write_triples(triples, table)

    def op(self, spark, out: str) -> dict:
        self._run(spark, self.pages, self.docs, out, "triples")
        return {}

    def resume(self, spark, out: str) -> float:
        """Delete every stage after ``linked`` and run again; returns seconds."""
        for stage in RESUMED:
            shutil.rmtree(os.path.join(out, "pipeline", f"stage={stage}"))
        return timed(lambda: self._run(spark, self.pages, self.docs, out, "resumed"))[0]

    def check(self, out: str) -> Tuple[bool, str]:
        import pyarrow.dataset as ds

        notes = []
        tables = [t for t in ("triples", "resumed") if os.path.isdir(os.path.join(out, "catalog", t))]
        for table in tables:
            t = ds.dataset(
                os.path.join(out, "catalog", table), format="parquet", partitioning="hive"
            ).to_table()
            ok, note = _gold_check(_triple_counts(t), self.gold)
            notes.append(f"{table}: {note}")
            if not ok:
                return False, "; ".join(notes)
        return True, "; ".join(notes)

    def check_full(self, spark, out: str) -> dict:
        return _prf(spark, spark.read.parquet(os.path.join(out, "catalog", "triples")), self.gold)

    def traced_targets(self) -> dict:
        from seq2rel_ds_spark.plans import catalog, web_kg

        return {
            "plans.web_kg.run_web_kg": (web_kg, "run_web_kg"),
            "plans.catalog.write_triples": (catalog.TripleCatalog, "write_triples"),
        }

    def traced_op(self, spark, tracer, out: str) -> Tuple[float, dict]:
        """Also replaces ``Pipeline.stage`` so that each stage gets a span
        (the checkpoint commit is the stage's time outside its fn), a span
        around the fn it is passed (plan building plus any eager work in it),
        and the stage's rows and Spark jobs."""
        from seq2rel_ds_spark.plans.pipeline import Pipeline

        orig = Pipeline.stage
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def stage(pipe, name, fn, force=False):
            t0 = time.perf_counter()
            group = sc.getLocalProperty("spark.jobGroup.id")
            before = set(tracker.getJobIdsForGroup(group))
            tracer.bookkeeping_s += time.perf_counter() - t0

            def traced_fn(outputs):
                with tracer.span(f"plans.pipeline.stage.{name}.fn"):
                    return fn(outputs)

            with tracer.span(f"plans.pipeline.stage.{name}") as rec:
                df = orig(pipe, name, traced_fn, force)
                t0 = time.perf_counter()
                rec["rows"] = pipe.results[-1].rows
                rec["jobs"] = len(set(tracker.getJobIdsForGroup(group)) - before)
                tracer.bookkeeping_s += time.perf_counter() - t0
            return df

        Pipeline.stage = stage
        try:
            return super().traced_op(spark, tracer, out)
        finally:
            Pipeline.stage = orig

    def layers(self, spark, tracer, out: str, info: dict) -> dict:
        """Stage metrics of the traced operation, then the resume: every
        stage after ``linked`` is deleted and the pipeline run again, and
        its output is checked against gold like the first."""
        import pyarrow.parquet as pq

        first = next(s for s in tracer.spans if s["name"] == "plans.web_kg.run_web_kg")
        m = {
            "plans.catalog.write_s": next(
                s["end"] - s["start"] for s in tracer.spans if s["name"] == "plans.catalog.write_triples"
            ),
        }
        for s in tracer.spans:
            if s["parent"] == first["id"] and s["name"].startswith("plans.pipeline.stage."):
                fn_s = tracer.total_s(s["name"] + ".fn", parent=s["id"])
                m[f"{s['name']}.fn_s"] = fn_s
                m[f"{s['name']}.commit_s"] = s["end"] - s["start"] - fn_s
                m[f"{s['name']}.rows"] = s["rows"]
                m[f"{s['name']}.jobs"] = s["jobs"]
        pipe = os.path.join(out, "pipeline")
        m["plans.pipeline.write_amp"] = sum(
            _parquet_bytes(os.path.join(pipe, f"stage={s}")) for s in STAGES
        ) / self.props["bytes"]
        for s in ("linked", "relations", "triples"):
            rows = [
                pq.read_metadata(f).num_rows
                for f in glob.glob(os.path.join(pipe, f"stage={s}", "*.parquet"))
            ]
            m[f"plans.pipeline.stage.{s}.partition_skew"] = (
                max(rows) * len(rows) / sum(rows) if sum(rows) else 0.0
            )
        if time.monotonic() + RESUME_RESERVE_S > self.deadline:
            info["check"] += "; resume skipped: too close to the run's deadline"
            return m
        with tracer.span("resume"):
            m["plans.pipeline.resume_s"] = self.resume(spark, out)
        ok, note = self.check(out)
        info["ok"] = info["ok"] and ok
        info["check"] += f"; after resume: {note}"
        return m


class CorpusCDR(Workload):
    name = "corpus_cdr"
    result_glob = "*.tsv/part-*"
    sizes = {"full": {"docs": 500}, "tiny": {"docs": 200}}
    # order-insensitive hash of every written line, per split, for
    # DEFAULT_SEED and each size (a regression pin, not reference parity)
    pinned = {
        "full": {"train": "13eaa0aa91a65653", "test": "97fd5b48744e1808"},
        "tiny": {"train": "d7ca9e6788caabf7", "test": "41e1ab0f8e32680e"},
    }

    def prepare(self) -> dict:
        def make(n, seed):
            return lambda d: gen.write_cdr(d, seed, n)

        n = self.cfg["docs"]
        self.corpus, self.props, _ = self._input(f"cdr-{n}-s{self.seed}", make(n, self.seed))
        return self.props

    def _docs(self, spark, corpus: str):
        from seq2rel_ds_spark.sources import mesh, pubtator

        return (
            pubtator.read_pubtator(spark, os.path.join(corpus, "train.pubtator")),
            pubtator.read_pubtator(spark, os.path.join(corpus, "test.pubtator")),
            mesh.read_mesh_tree(spark, os.path.join(corpus, "mesh.tsv")),
        )

    def _run(self, spark, corpus: str, out: str) -> dict:
        from seq2rel_ds_spark.plans import corpora

        train, test, mesh_df = self._docs(spark, corpus)
        splits = corpora.preprocess_cdr(train, None, test, mesh_df, hints=True)
        return corpora.write_tsv(splits, out)

    def op(self, spark, out: str) -> dict:
        return {"lines": self._run(spark, self.corpus, out)}

    def check(self, out: str) -> Tuple[bool, str]:
        want = {"train": self.props["docs_train"], "test": self.props["docs_test"]}
        got, digest = {}, {}
        for split in want:
            lines = []
            for f in sorted(glob.glob(os.path.join(out, f"{split}.tsv", "part-*"))):
                with open(f, encoding="utf-8") as fh:
                    lines.extend(fh.read().splitlines())
            got[split] = len(lines)
            digest[split] = _multiset_hash(lines)
        if got != want:
            return False, f"lines per split {got} != docs per split {want}"
        pin = self.pinned.get(self.size) if self.seed == DEFAULT_SEED else None
        if pin is not None and pin != digest:
            return False, f"line hash {digest} != pinned {pin}"
        return True, f"lines {got}, hash {digest}" + (" (pinned)" if pin else "")

    def traced_targets(self) -> dict:
        from seq2rel_ds_spark.plans import corpora
        from seq2rel_ds_spark.sources import pubtator

        return {
            "sources.pubtator.read_pubtator": (pubtator, "read_pubtator"),
            "operators.parse.parse_documents": (corpora, "parse_documents"),
            "operators.hypernym.filter_hypernyms": (corpora, "filter_hypernyms"),
            "operators.linearize.linearize": (corpora, "linearize"),
            "plans.corpora.write_tsv": (corpora, "write_tsv"),
        }

    def layers(self, spark, tracer, out: str, info: dict) -> dict:
        from pyspark.sql import functions as F

        from seq2rel_ds_spark.operators import hypernym, linearize, parse

        train, test, mesh_df = self._docs(spark, self.corpus)
        with tracer.span("probe.read"):
            read_s = _noop(train) + _noop(test)
        p_train, p_test = parse.parse_documents(train), parse.parse_documents(test)
        with tracer.span("probe.parse"):
            parse_train, parse_test = _noop(p_train), _noop(p_test)
        filtered = hypernym.filter_hypernyms(p_test, mesh_df)
        with tracer.span("probe.hypernym"):
            hyp_s = _noop(filtered)
        with tracer.span("probe.linearize"):
            lin_train = _noop(linearize.linearize(p_train, hints=True))
            lin_test = _noop(linearize.linearize(filtered, hints=True))

        def n_label(label):
            return F.size(F.filter("clusters", lambda c: c["label"] == label))

        row = filtered.agg(
            F.sum(F.size("filtered_relations")).alias("dropped"),
            F.sum(n_label("Chemical") * n_label("Disease") - F.size("relations")).alias("cand"),
        ).first()
        malformed = sum(
            p.agg(F.sum("n_malformed")).first()[0] or 0 for p in (p_train, p_test)
        )
        lines = info["lines"]
        return {
            "sources.pubtator.read_s": read_s,
            "operators.parse.s": parse_train + parse_test - read_s,
            "operators.hypernym.s": hyp_s - parse_test,
            "operators.linearize.s": lin_train + lin_test - parse_train - hyp_s,
            "plans.corpora.write_tsv_s": tracer.total_s("plans.corpora.write_tsv"),
            "plans.corpora.train.docs": self.props["docs_train"],
            "plans.corpora.test.docs": self.props["docs_test"],
            "plans.corpora.train.lines": lines["train"],
            "plans.corpora.test.lines": lines["test"],
            "operators.parse.n_malformed": malformed,
            "operators.hypernym.dropped_ratio": (row["dropped"] or 0) / max(row["cand"] or 0, 1),
        }


def _multiset_hash(lines: List[str]) -> str:
    acc = 0
    for ln in lines:
        acc = (acc + int.from_bytes(hashlib.sha256(ln.encode()).digest()[:8], "big")) % 2**64
    return f"{acc:016x}"


def _prf(spark, triples, gold: List[list]) -> dict:
    """Triple precision/recall through the program's own ``triple_prf``."""
    from seq2rel_ds_spark.plans.web_kg import triple_prf

    g = spark.createDataFrame([(s, p, o) for s, p, o, _ in gold], "subj string, pred string, obj string")
    r = triple_prf(triples, g)
    return {"triple_precision": r["precision"], "triple_recall": r["recall"]}


class StagedCDR(Workload):
    """``webkg_staged`` then ``corpus_cdr``, one after the other in each
    operation: the two checkpointed batch plans (Catalyst, many short Spark
    jobs, written outputs) share one workload so the run fits its time."""

    name = "staged_cdr"
    result_glob = os.path.join(WebKGStaged.name, WebKGStaged.result_glob)
    sizes = {"full": {}, "tiny": {}}

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [WebKGStaged(*args), CorpusCDR(*args)]

    def prepare(self) -> dict:
        props = {p.name: p.prepare() for p in self.parts}
        self.props = {"docs": sum(v["docs"] for v in props.values()), **props}
        return self.props

    def warmup(self, spark) -> None:
        """One warm-up pass (a cold pass takes ~1.7 times a warm one; an
        operation outlasts ``--seconds``, so a run times one warm pass).
        Its parts run side by side, in two threads: they share no data, and
        it shortens the run; the timed operations run the parts one after
        the other."""
        with ThreadPoolExecutor(len(self.parts)) as pool:
            futs = [
                pool.submit(p.op, spark, os.path.join(self.work, "warmup", p.name))
                for p in self.parts
            ]
            for f in futs:
                f.result(timeout=WARMUP_TIMEOUT_S)

    def op(self, spark, out: str) -> dict:
        info = {}
        for p in self.parts:
            info[f"{p.name}_s"], more = timed(lambda: p.op(spark, os.path.join(out, p.name)))
            info.update(more)
        return info

    def check(self, out: str) -> Tuple[bool, str]:
        notes = []
        for p in self.parts:
            ok, note = p.check(os.path.join(out, p.name))
            notes.append(f"{p.name}: {note}")
            if not ok:
                return False, "; ".join(notes)
        return True, "; ".join(notes)

    def check_full(self, spark, out: str) -> dict:
        return self.parts[0].check_full(spark, os.path.join(out, self.parts[0].name))

    def traced_op(self, spark, tracer, out: str) -> Tuple[float, dict]:
        wall, info = 0.0, {}
        for p in self.parts:
            w, more = p.traced_op(spark, tracer, os.path.join(out, p.name))
            wall += w
            info.update(more)
        return wall, info

    def layers(self, spark, tracer, out: str, info: dict) -> dict:
        m = {}
        for p in self.parts:
            m.update(p.layers(spark, tracer, os.path.join(out, p.name), info))
        return m


WORKLOADS = {w.name: w for w in (WebKGFused, StagedCDR)}
