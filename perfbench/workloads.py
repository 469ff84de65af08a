"""The benchmark's workloads. Each runs against the package's public
functions only and checks its own output.

A run has an untraced phase (end-to-end metrics). A traced run adds a second
phase in a fresh SparkSession with the event log on, where spans time each
layer; its result is the per-layer metrics plus the tracing overhead
(traced minus untraced) of every end-to-end metric.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from perfbench import host, inputs, spans, stats

SETUP_REPS = 3
THRESHOLD = 0.7  # link_transcripts default
SERVE_THRESHOLD = 0.65  # /link default
MIN_DF = 2  # create-index CLI default
ARGMAX_SAMPLE = 200
TRACED_REQUESTS = 3  # request + direct-handler pairs in a traced serve phase
# output floors, set below the values every seed tried gives (see README)
MIN_F1 = {"golden": 0.80, "largekb": 0.88, "serve": 0.90}

END_TO_END_UNITS = {
    "setup_s": "s",
    "index_build_s": "s",
    "turns_per_s": "turns/s",
    "cpu_s_per_kturn": "CPU-s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_request": "CPU-s",
    "pairwise_f1": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "kb.build_s": "s",
    "vectorize.fit_s": "s",
    "vectorize.vocab_size": "count",
    "vectorize.alias_vector_rows": "count",
    "mentions.extract_s": "s",
    "mentions.found": "count",
    "mentions.spark_jobs": "count",
    "candidates.best_s": "s",
    "candidates.texts_in": "count",
    "candidates.matched_ratio": "ratio",
    "candidates.shuffle_write_mb": "MB",
    "candidates.task_cpu_s": "CPU-s",
    "blocking.pairs_s": "s",
    "blocking.pairs": "count",
    "blocking.pairs_per_text": "ratio",
    "blocking.recall_vs_exact": "ratio",
    "blocking.useful_pair_ratio": "ratio",
    "link.best_aliases_s": "s",
    "link.rescued": "count",
    "link.rescue_ratio": "ratio",
    "link.context_vectors_s": "s",
    "link.turns_embedded": "count",
    "link.link_mentions_s": "s",
    "link.disambiguate_self_s": "s",
    "link.spark_jobs": "count",
    "link.shuffle_write_mb": "MB",
    "cluster.cc_s": "s",
    "cluster.edges": "count",
    "cluster.components": "count",
    "cluster.spark_jobs": "count",
    "serve.handler_s": "s",
    "serve.http_overhead_s": "s",
    "serve.spark_jobs_per_request": "count",
    "serve.spark_tasks_per_request": "count",
}
# traced minus untraced, for every end-to-end metric
PER_LAYER_UNITS.update({f"overhead.{k}": u for k, u in END_TO_END_UNITS.items()})


@dataclass
class Spec:
    name: str
    family: str  # inputs family
    size: dict
    gold_spans: bool = True  # False: the gazetteer extracts mentions
    use_blocking: bool = False


WORKLOADS = {
    s.name: s
    for s in [
        Spec("golden_turns", "golden", {"turns": 10000}, gold_spans=False),
        Spec("largekb_exact", "largekb", {"entities": 2000, "turns": 3000}),
        Spec("largekb_blocked", "largekb", {"entities": 2000, "turns": 3000}, use_blocking=True),
        Spec("serve_requests", "serve", {"requests": 64, "docs_per_request": 4}),
    ]
}


@dataclass
class Phase:
    """Raw measurements of one phase (untraced or traced)."""

    setup: list = field(default_factory=list)
    build: list = field(default_factory=list)
    wall: list = field(default_factory=list)  # per pass / request
    cpu: list = field(default_factory=list)
    turns_per_op: int = 0
    f1: float = 0.0
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, step: str) -> None:
        """Seconds since the phase began, per step (goes in the detail line)."""
        self.notes.setdefault("timeline_s", {})[step] = round(time.perf_counter() - self.t0, 2)

    def end_to_end(self) -> dict:
        p50 = stats.median(self.wall)
        cpu = stats.median(self.cpu)
        tail, pct, n = stats.tail(self.wall)
        self.notes.update(latency_tail_percentile=pct, latency_samples=n)
        return {
            "setup_s": stats.median(self.setup),
            "index_build_s": stats.median(self.build),
            "turns_per_s": self.turns_per_op / p50,
            "cpu_s_per_kturn": cpu * 1000.0 / self.turns_per_op,
            "latency_p50_s": p50,
            "latency_tail_s": tail,
            "cpu_s_per_request": cpu,
            "pairwise_f1": self.f1,
            "peak_rss_mb": self.peak_rss_mb,
        }


class Run:
    """One benchmark invocation: --workload, --seed, --seconds, --trace."""

    def __init__(self, spec: Spec, seed: int, seconds: int, checkout: str):
        self.spec, self.seed, self.seconds = spec, seed, seconds
        self.scratch = os.path.join(checkout, ".perfbench_cache")
        # saved indexes of this run only; removed when the run ends
        self.models_dir = os.path.join(self.scratch, "models", str(os.getpid()))
        self.cores = host.nproc()
        self.spark = None
        self.tracer: spans.Tracer | None = None

    # ---- session / inputs -------------------------------------------------

    def start_session(self, event_log_dir: str | None = None):
        from spacy_ann_linker_spark.session import get_spark

        conf = host.spark_conf(self.scratch)
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench.{self.spec.name}", cores=self.cores, extra_conf=conf)
        return self.spark

    def stop_session(self) -> None:
        """Stop the session; the indexes saved under it go with it."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.models_dir, ignore_errors=True)

    def load_inputs(self, path: str) -> dict:
        """Read and cache every generated table the program takes (counted,
        so the load is complete when this returns). The gold labels are the
        checker's, read lazily outside the setup."""
        if self.spec.family == "serve":
            with open(os.path.join(path, "requests.json")) as f:
                return {"requests": json.load(f)}
        out = {}
        for name in sorted(os.listdir(path)):
            df = self.spark.read.parquet(os.path.join(path, name))
            if name != "labels.parquet":
                df = df.cache()
                df.count()
            out[name[: -len(".parquet")]] = df
        return out

    def setup(self, phase: Phase, path: str, reps: int, event_log_dir: str | None = None) -> dict:
        """Session start + input load, `reps` times; the last session stays."""
        tables = None
        for _ in range(reps):
            self.stop_session()
            t0 = time.perf_counter()
            with self._span("session.start"):
                self.start_session(event_log_dir)
            if self.tracer is not None:
                self.tracer.sc = self.spark.sparkContext
            tables = self.load_inputs(path)
            phase.setup.append(time.perf_counter() - t0)
        return tables

    def _span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    # ---- index build (create-index) ----------------------------------------

    def build_index(self, tables: dict, out: str):
        """build_kb + fit_candidate_model + LinkageModel.save; returns the
        model loaded back from `out`, as the link and serve commands do."""
        from spacy_ann_linker_spark.candidates.generate import fit_candidate_model
        from spacy_ann_linker_spark.data import golden_kb
        from spacy_ann_linker_spark.kb.build import build_kb
        from spacy_ann_linker_spark.pipeline import LinkageModel

        if self.spec.family == "largekb":
            ents, als = tables["entities"], tables["aliases"]
        else:
            ents, als = golden_kb.load_entities(self.spark), golden_kb.load_aliases(self.spark)
        traced = self.tracer is not None
        with self._span("kb.build"):
            kb = build_kb(ents, als)
            if traced:
                for df in (kb.entities, kb.alias_map, kb.short_aliases):
                    df.persist().count()
        with self._span("vectorize.fit") as sp:
            cand = fit_candidate_model(kb, min_df=MIN_DF)
            if traced:
                sp.counts["vocab_size"] = cand.tfidf.vocab.persist().count()
                sp.counts["alias_vector_rows"] = cand.alias_vectors.persist().count()
        with self._span("index.save"):
            LinkageModel(kb=kb, cand=cand).save(out)
        return LinkageModel.load(self.spark, out)

    def timed_build(self, phase: Phase, tables: dict, tag: str):
        out = os.path.join(self.models_dir, tag)
        t0 = time.perf_counter()
        model = self.build_index(tables, out)
        phase.build.append(time.perf_counter() - t0)
        return model

    # ---- phases ------------------------------------------------------------

    def run(self, trace: bool) -> dict:
        path = inputs.ensure(os.path.join(self.scratch, "inputs"), self.spec.family, self.seed, self.spec.size)
        runner = self.serve_phase if self.spec.family == "serve" else self.batch_phase
        base = runner(path, traced=False)
        e2e = base.end_to_end()
        detail = {"workload": self.spec.name, "seed": self.seed, "untraced": base.notes}
        result = {"attempted": base.attempted, "failed": base.failed}
        if not trace:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        else:
            traced = runner(path, traced=True)
            layer = traced.notes.pop("per_layer")
            t_e2e = traced.end_to_end()
            for k, v in t_e2e.items():
                layer[f"overhead.{k}"] = (v - e2e[k], END_TO_END_UNITS[k])
            # a layer this workload never calls reads 0
            metrics = {
                k: {"value": layer.get(k, (0, u))[0], "unit": u} for k, u in PER_LAYER_UNITS.items()
            }
            result["attempted"] += traced.attempted
            result["failed"] += traced.failed
            detail["traced"] = traced.notes
        self.stop_session()
        print(json.dumps({"detail": detail}))
        result["correct"] = result["failed"] == 0
        result["metrics"] = metrics
        return {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}

    def _begin(self, traced: bool, phase: Phase, path: str):
        """Shared phase start: sessions (+ event log when traced), inputs."""
        event_log = None
        if traced:
            self.stop_session()
            event_log = os.path.join(self.scratch, "eventlog", f"{self.spec.name}-s{self.seed}-{os.getpid()}")
            self.tracer = spans.Tracer(None, self.spec.name, self.seed)
        return self.setup(phase, path, 1, event_log), event_log

    def _end(self, traced: bool, phase: Phase, path: str) -> None:
        """The remaining setup samples, taken once the JVM is warm: restarts
        late in the run vary less than restarts right after JVM launch."""
        if not traced:
            self.setup(phase, path, SETUP_REPS - 1)

    def _fits(self, phase: Phase, start: float) -> bool:
        """Whether one more operation is expected to end inside --seconds."""
        return time.perf_counter() - start + stats.median(phase.wall) <= self.seconds

    def _finish_trace(self, event_log: str) -> spans.Tracer:
        tr = self.tracer
        tr.collect_status()
        self.stop_session()
        tr.attach_event_log(spans.parse_event_log(spans.read_event_log(event_log)))
        shutil.rmtree(event_log)  # 100+ MB per run; the spans keep what it gave
        tr.write(os.path.join(self.scratch, "traces", f"{self.spec.name}-s{self.seed}.json"))
        self.tracer = None
        return tr

    # ---- batch workloads ---------------------------------------------------

    def batch_phase(self, path: str, traced: bool) -> Phase:
        from spacy_ann_linker_spark.link.linker import release_memos

        ph = Phase()
        tables, event_log = self._begin(traced, ph, path)
        ph.mark("setup")
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        with host.RssSampler(jvm_pid) as rss:
            model = self.timed_build(ph, tables, "traced" if traced else "base")
            ph.mark("build")
            ph.turns_per_op = tables["turns"].count()
            baseline = None
            start = time.perf_counter()
            while True:
                cpu0, t0 = host.container_cpu_s(), time.perf_counter()
                if traced:
                    with self.tracer.span("pass"):
                        links, clusters = self._traced_pass(model, tables)
                else:
                    links, clusters = self._link_and_cluster(model, tables)
                ph.wall.append(time.perf_counter() - t0)
                ph.cpu.append(host.container_cpu_s() - cpu0)
                ph.attempted += 1
                ph.mark(f"pass{len(ph.wall)}")
                again = not traced and self._fits(ph, start)
                ok = True
                if len(ph.wall) == 1:
                    ok = self._check_first(ph, model, tables, links, argmax=not traced)
                    ph.notes["links"] = links.count()
                    ph.mark("checks")
                # passes after the first must reproduce its output exactly
                if again or baseline is not None:
                    fp = _fingerprint(links, clusters)
                    baseline = baseline or fp
                    ok = ok and fp == baseline
                ph.failed += 0 if ok else 1
                if traced:
                    self._probe_unused_layers(model, tables)
                    ph.notes["per_layer"] = self._layer_metrics(model, tables, links, clusters)
                links.unpersist()
                clusters.unpersist()
                release_memos()
                if not again:
                    break
        ph.peak_rss_mb = rss.peak_mb
        self._end(traced, ph, path)
        ph.notes.update(passes=len(ph.wall), pass_wall_s=ph.wall, setup_s_each=ph.setup)
        if traced:
            tr = self._finish_trace(event_log)
            ph.notes["per_layer"].update(_span_metrics(tr))
        return ph

    def _link_and_cluster(self, model, tables: dict):
        from spacy_ann_linker_spark.pipeline import cluster_links, link_transcripts

        mentions = tables["mentions"] if self.spec.gold_spans else None
        links = link_transcripts(
            model, tables["turns"], mentions=mentions, threshold=THRESHOLD,
            fuzzy_rescue=True, use_blocking=self.spec.use_blocking,
        ).persist()
        links.count()
        with self._span("cluster.cc"):
            clusters = cluster_links(links).persist()
            clusters.count()
        return links, clusters

    def _traced_pass(self, model, tables: dict):
        """The same pass with each layer's entry point wrapped in a span."""
        from spacy_ann_linker_spark import pipeline
        from spacy_ann_linker_spark.candidates import blocking
        from spacy_ann_linker_spark.link import linker

        tr = self.tracer
        undo = [
            tr.wrap(pipeline, "extract_mentions_gazetteer", "mentions.extract"),
            tr.wrap(pipeline, "link_mentions", "link.link_mentions"),
            tr.wrap(linker, "best_aliases", "link.best_aliases"),
            tr.wrap(linker, "generate_best_candidates", "candidates.best"),
            tr.wrap(blocking, "lsh_pairs", "blocking.pairs"),
            tr.wrap(blocking, "sorted_neighborhood_pairs", "blocking.pairs"),
            tr.wrap(linker, "context_vectors", "link.context_vectors"),
        ]
        try:
            return self._link_and_cluster(model, tables)
        finally:
            for u in undo:
                u()

    def _probe_unused_layers(self, model, tables: dict) -> None:
        """Time once, on this workload's inputs, the layers its pass does not
        call (gazetteer extraction when spans are given; blocking on the
        exact path), so every traced run reports every layer. Probes are
        root spans of their own and feed no end-to-end metric."""
        from spacy_ann_linker_spark.candidates import blocking
        from spacy_ann_linker_spark.candidates.generate import generate_best_candidates
        from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer

        tr = self.tracer
        if self.spec.gold_spans:
            mentions = tables["mentions"]
            with tr.span("probe.mentions"), tr.span("mentions.extract") as sp:
                found = extract_mentions_gazetteer(tables["turns"], model.cand.aliases).persist()
                found.count()
                sp.calls.append(((), found))
        else:
            mentions = tr.named("mentions.extract")[0].calls[0][1]
        if self.spec.use_blocking:
            return
        texts = mentions.select("text").distinct()
        undo = [
            tr.wrap(blocking, "lsh_pairs", "blocking.pairs"),
            tr.wrap(blocking, "sorted_neighborhood_pairs", "blocking.pairs"),
        ]
        try:
            with tr.span("probe.blocked_candidates"):
                generate_best_candidates(
                    model.cand, texts, exact_fast_path=True, use_blocking=True
                ).persist().count()
        finally:
            for u in undo:
                u()

    def _check_first(self, ph: Phase, model, tables: dict, links, argmax: bool) -> bool:
        """Output checks on the first timed pass: F1 against gold labels,
        and on the large KB's exact path a sampled exact-argmax check (untraced
        phase only: once per run is enough, and the traced run is the one
        nearest the per-run time limit)."""
        from spacy_ann_linker_spark.evaluate import pairwise_f1

        m = pairwise_f1(links, tables["labels"])
        ph.f1 = m["f1"]
        ph.notes.update(precision=m["precision"], recall=m["recall"], n_pred=m["n_pred"], n_gold=m["n_gold"])
        ok = m["f1"] >= MIN_F1[self.spec.family]
        if argmax and self.spec.family == "largekb" and not self.spec.use_blocking:
            bad = _argmax_violations(model, links, tables["labels"], self.seed)
            ph.notes["argmax_violations"] = bad
            ok = ok and bad == 0
        return ok

    def _layer_metrics(self, model, tables: dict, links, clusters) -> dict:
        """Counts for the traced pass, taken after it from the DataFrames the
        wrapped calls returned (outside every span)."""
        from pyspark.sql import functions as F

        tr = self.tracer
        out = {}
        found = sum(r.count() for sp in tr.named("mentions.extract") for _, r in sp.calls)
        out["mentions.found"] = (found, "count")

        texts_in = matched = 0
        for sp in tr.named("candidates.best"):
            for a, r in sp.calls:
                texts_in += a[1].count()
                matched += r.filter(F.col("similarity") > THRESHOLD).count()
        out["candidates.texts_in"] = (texts_in, "count")
        out["candidates.matched_ratio"] = (matched / texts_in if texts_in else 0.0, "ratio")

        best = sum(r.count() for sp in tr.named("link.best_aliases") for _, r in sp.calls)
        rescued = best - matched
        out["link.rescued"] = (rescued, "count")
        unmatched = texts_in - matched
        out["link.rescue_ratio"] = (rescued / unmatched if unmatched else 0.0, "ratio")
        embedded = sum(r.count() for sp in tr.named("link.context_vectors") for _, r in sp.calls)
        out["link.turns_embedded"] = (embedded, "count")

        edges = links.select("text", "entity_id").distinct().count()
        out["cluster.edges"] = (edges, "count")
        out["cluster.components"] = (clusters.select("component").distinct().count(), "count")

        pair_calls = [c for sp in tr.named("blocking.pairs") for c in sp.calls]
        out.update(_blocking_counts(model, pair_calls))
        return out

    # ---- serve workload ----------------------------------------------------

    def serve_phase(self, path: str, traced: bool) -> Phase:
        from spacy_ann_linker_spark.link.serve import link_documents, make_server

        ph = Phase()
        tables, event_log = self._begin(traced, ph, path)
        ph.mark("setup")
        payloads = [[_strip_gold(d) for d in req] for req in tables["requests"]]
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        with host.RssSampler(jvm_pid) as rss:
            model = self.timed_build(ph, tables, "traced" if traced else "base")
            ph.mark("build")
            # as the serve command does: warm the model tables first
            model.cand.alias_vectors.cache().count()
            model.kb.entities.cache().count()
            k = ph.turns_per_op = len(payloads[0])
            # expected ids and F1: one direct call over every document
            # (linking is per document, so batching does not change any id)
            flat = [d for req in payloads for d in req]
            direct_all = link_documents(self.spark, model, flat, threshold=SERVE_THRESHOLD)
            expected_flat = _ids(direct_all)
            expected = [expected_flat[i * k:(i + 1) * k] for i in range(len(payloads))]
            ph.f1 = self._serve_f1([d for req in tables["requests"] for d in req], direct_all)
            ph.failed += 0 if ph.f1 >= MIN_F1["serve"] else 1
            ph.mark("direct_and_f1")

            server = make_server(self.spark, model, "127.0.0.1", 0)
            th = threading.Thread(target=server.serve_forever, daemon=True)
            th.start()
            url = f"http://127.0.0.1:{server.server_address[1]}/link"
            try:
                start = time.perf_counter()
                handler, q = [], 0
                while True:
                    req = q % len(payloads)
                    cpu0, t0 = host.container_cpu_s(), time.perf_counter()
                    with self._span("serve.request"):
                        status, body = _post(url, payloads[req])
                    ph.wall.append(time.perf_counter() - t0)
                    ph.cpu.append(host.container_cpu_s() - cpu0)
                    ph.attempted += 1
                    ok = status == 200 and _ids(body["documents"]) == expected[req]
                    ph.failed += 0 if ok else 1
                    if traced:
                        with self._span("serve.handler") as sp:
                            direct = link_documents(self.spark, model, payloads[req], threshold=SERVE_THRESHOLD)
                        handler.append(sp.duration)
                        ph.failed += 0 if _ids(direct) == expected[req] else 1
                    q += 1
                    if (q >= TRACED_REQUESTS) if traced else not self._fits(ph, start):
                        break
            finally:
                server.shutdown()
                server.server_close()
                th.join(timeout=10)
            ph.mark("requests")
        ph.peak_rss_mb = rss.peak_mb
        self._end(traced, ph, path)
        ph.notes.update(requests=len(ph.wall), docs_per_request=k, request_wall_s=ph.wall,
                        setup_s_each=ph.setup)
        if traced:
            tr = self._finish_trace(event_log)
            handler_spans = tr.named("serve.handler")
            layer = {
                "serve.handler_s": (stats.median(handler), "s"),
                "serve.http_overhead_s": (stats.median(ph.wall) - stats.median(handler), "s"),
                "serve.spark_jobs_per_request": (stats.median([s.counts["spark_jobs"] for s in handler_spans]), "count"),
                "serve.spark_tasks_per_request": (stats.median([s.counts["spark_tasks"] for s in handler_spans]), "count"),
            }
            ph.notes["serve_jobs_each"] = [s.counts["spark_jobs"] for s in handler_spans]
            layer.update(_span_metrics(tr))
            ph.notes["per_layer"] = layer
        return ph

    def _serve_f1(self, sent: list, answered: list) -> float:
        """evaluate.pairwise_f1 of the answered span ids vs the gold entities
        of the documents sent (same order)."""
        from spacy_ann_linker_spark.evaluate import pairwise_f1

        pred, gold = [], []
        for i, (doc, src) in enumerate(zip(answered, sent)):
            for s, g in zip(doc["spans"], src["spans"]):
                gold.append((f"d{i}", 0, s["text"], s["start"], g["_gold"], s["text"].lower()))
                if s.get("id") is not None:
                    pred.append((f"d{i}", 0, s["start"], s["text"], s["id"]))
        links = self.spark.createDataFrame(
            pred, "conv_id string, turn_idx int, start int, text string, entity_id string")
        labels = self.spark.createDataFrame(
            gold, "conv_id string, turn_idx int, mention string, start int, gold_entity string, block_key string")
        return pairwise_f1(links, labels)["f1"]


# ---- helpers ------------------------------------------------------------------


def _fingerprint(links, clusters) -> tuple:
    """Order-independent digest of a pass's outputs."""
    from pyspark.sql import functions as F

    def digest(*cols):
        return F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31)))

    lk = links.agg(F.count("*"), digest("mention_id", "entity_id", "alias")).first()
    cl = clusters.agg(F.count("*"), digest("node", "component")).first()
    return (lk[0], lk[1], cl[0], cl[1])


def _argmax_violations(model, links, labels, seed: int) -> int:
    """Sampled exact-argmax check: for linked mentions whose gold alias
    clears the threshold on cosine, the alias the linker chose must score at
    least as high as the gold alias (nothing in the KB may beat the winner
    the linker missed)."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.vectorize import tfidf

    # block_key is the gold alias lower-cased; map it back to the alias
    gold = labels.select(F.col("mention").alias("text"), "block_key").distinct().join(
        model.cand.aliases.select(F.col("alias").alias("gold"), F.lower("alias").alias("block_key")),
        "block_key",
    )
    pairs = (
        links.select("text", F.col("alias").alias("chosen")).distinct()
        .join(gold, "text")
        .orderBy(F.xxhash64("text", F.lit(seed)))
        .limit(ARGMAX_SAMPLE)
        .select("text", "chosen", "gold")
        .collect()
    )
    probe = links.sparkSession.createDataFrame(
        [(t, a) for t, c, g in pairs for a in (c, g)], "text string, alias string"
    ).distinct()
    mv = tfidf.transform(model.cand.tfidf, probe.select("text").distinct(), "text", "text")
    cos = {
        (r["text"], r["alias"]): r["cos"]
        for r in probe.join(mv.withColumnRenamed("weight", "w_m"), "text")
        .join(model.cand.alias_vectors.withColumnRenamed("weight", "w_a"), ["alias", "idx"])
        .groupBy("text", "alias").agg(F.sum(F.col("w_m") * F.col("w_a")).alias("cos"))
        .collect()
    }
    return sum(
        1 for t, c, g in pairs
        if cos.get((t, g), 0.0) > THRESHOLD and cos.get((t, c), 0.0) < cos[(t, g)] - 1e-9
    )


def _blocking_counts(model, pair_calls: list) -> dict:
    """blocking.* counts from the captured pair-generator calls: pairs made,
    pairs per mention string, and recall of the exact path's winners."""
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.candidates.generate import generate_best_candidates

    if not pair_calls:
        return {}
    rest = pair_calls[0][0][0].select("text").distinct()
    pairs = None
    for _, r in pair_calls:
        p = r.select("text", "alias")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct().persist()
    n_pairs, n_texts = pairs.count(), rest.count()
    exact = generate_best_candidates(model.cand, rest).filter(F.col("similarity") > THRESHOLD)
    n_exact = exact.count()
    found = exact.select("text", "alias").join(pairs, ["text", "alias"]).count()
    pairs.unpersist()
    return {
        "blocking.pairs": (n_pairs, "count"),
        "blocking.pairs_per_text": (n_pairs / n_texts if n_texts else 0.0, "ratio"),
        "blocking.recall_vs_exact": (found / n_exact if n_exact else 0.0, "ratio"),
        "blocking.useful_pair_ratio": (found / n_pairs if n_pairs else 0.0, "ratio"),
    }


def _span_metrics(tr: spans.Tracer) -> dict:
    """Per-layer times and Spark counts from the finished trace."""

    def dur(name):
        return sum(s.duration for s in tr.named(name))

    def incl(name, key):
        return sum(tr.inclusive(s, key) for s in tr.named(name))

    lm = tr.named("link.link_mentions")
    return {
        "session.start_s": (dur("session.start"), "s"),
        "kb.build_s": (dur("kb.build"), "s"),
        "vectorize.fit_s": (dur("vectorize.fit"), "s"),
        "vectorize.vocab_size": (incl("vectorize.fit", "vocab_size"), "count"),
        "vectorize.alias_vector_rows": (incl("vectorize.fit", "alias_vector_rows"), "count"),
        "mentions.extract_s": (dur("mentions.extract"), "s"),
        "mentions.spark_jobs": (incl("mentions.extract", "spark_jobs"), "count"),
        "candidates.best_s": (dur("candidates.best"), "s"),
        "candidates.shuffle_write_mb": (incl("candidates.best", "shuffle_write_mb"), "MB"),
        "candidates.task_cpu_s": (incl("candidates.best", "task_cpu_s"), "CPU-s"),
        "blocking.pairs_s": (dur("blocking.pairs"), "s"),
        "link.best_aliases_s": (dur("link.best_aliases"), "s"),
        "link.context_vectors_s": (dur("link.context_vectors"), "s"),
        "link.link_mentions_s": (dur("link.link_mentions"), "s"),
        "link.disambiguate_self_s": (sum(spans.self_time(s, tr.spans) for s in lm), "s"),
        "link.spark_jobs": (incl("link.link_mentions", "spark_jobs"), "count"),
        "link.shuffle_write_mb": (incl("link.link_mentions", "shuffle_write_mb"), "MB"),
        "cluster.cc_s": (dur("cluster.cc"), "s"),
        "cluster.spark_jobs": (incl("cluster.cc", "spark_jobs"), "count"),
    }


def _strip_gold(doc: dict) -> dict:
    return {
        "context": doc["context"],
        "spans": [{k: v for k, v in s.items() if not k.startswith("_")} for s in doc["spans"]],
    }


def _ids(docs: list) -> list:
    return [[s.get("id") for s in d["spans"]] for d in docs]


def _post(url: str, docs: list) -> tuple[int, dict]:
    req = urllib.request.Request(
        url, data=json.dumps({"documents": docs}).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as ex:
        return ex.code, {}
