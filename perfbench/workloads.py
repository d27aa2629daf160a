"""The benchmark's workloads.

report_mix
    Closed loop, 2 client threads sharing one SparkSession.  Each client sends
    whole cycles of eight analyst reports: the four catalog reports
    (complaints_flagship, complaints_class_distribution,
    complaints_monthly_trend, topk_companies_per_state) interleaved with four
    slice reports on seeded values (fixture -> clean_complaints -> frequency_encode -> date_parts ->
    filter on one state, product or year -> group-by).  Every request rebuilds
    the cleaned complaints frame from four parquet reads, so this workload
    rewards cuts to planning, re-reads and Spark job count.

train_eval
    Closed loop, 1 client.  Each op is one training round: timely LR, then
    8-class DT, then narrative LDA.  The training base frame is built and
    cached at set-up, so ops read no parquet: MLlib fit, eager sampling and
    caching dominate.

Each op's output is checked: report results against DuckDB, training tasks
against sanity bands on model quality and on the amount of data trained on.
"""

from __future__ import annotations

import importlib
import random
import time

from . import oracle

PKG = "consumer_financial_protection_bureau_predictive_analysis_using_machine_learning_models_in_pyspark_spark"

CATALOG_REPORTS = (
    "complaints_flagship",
    "complaints_class_distribution",
    "complaints_monthly_trend",
    "topk_companies_per_state",
)
SLICE_DIMS = ("state", "product", "year", "state")

# (module, attribute, span name) of every public function a traced run wraps.
TRACED_FUNCTIONS = (
    ("session", "get_session", "session.get_session"),
    ("sources.fixtures", "complaints", "sources.fixtures.complaints"),
    ("sources.readers", "load_table", "sources.readers.load_table"),
    ("operators.cleaning", "clean_complaints", "operators.cleaning.clean_complaints"),
    ("operators.encode", "frequency_encode", "operators.encode.frequency_encode"),
    ("operators.encode", "date_parts", "operators.encode.date_parts"),
    ("operators.sampling", "oversample_binary", "operators.sampling.oversample_binary"),
    ("operators.sampling", "rebalance_to_target", "operators.sampling.rebalance_to_target"),
    ("operators.sampling", "train_test_split", "operators.sampling.train_test_split"),
    ("operators.metrics", "binary_metrics", "operators.metrics.binary_metrics"),
    ("operators.metrics", "confusion_counts", "operators.metrics.confusion_counts"),
    ("ml.nlp", "nlp_features", "ml.nlp.nlp_features"),
    ("ml.nlp", "lda_topics", "ml.nlp.lda_topics"),
)


def package(name: str):
    return importlib.import_module(f"{PKG}.{name}")


class ReportMix:
    name = "report_mix"
    clients = 2
    expected_spans = {
        "session.get_session", "plans.catalog.plan", "plans.catalog.exec",
        "sources.fixtures.complaints", "sources.readers.load_table",
        "operators.cleaning.clean_complaints", "operators.encode.frequency_encode",
        "operators.encode.date_parts",
    }

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed, self.data_dir, self.tracer = seed, data_dir, tracer
        self.requests: list[tuple] = []
        self.expected: dict[tuple, dict] = {}

    def setup(self, spark) -> None:
        """Catalog import."""
        self.spark = spark
        self.catalog = package("plans.catalog")
        package("plans")  # registers every catalog entry

    @staticmethod
    def expect(seed: int, con) -> dict:
        """Pick the seeded slice values and compute every expected result.
        The order of report kinds is fixed, so every seed runs the same mix
        of kinds; the seed picks the data and the slice values."""
        cte = package("sources.fixtures").complaints_cte
        catalog = package("plans.catalog")
        package("plans")
        rng = random.Random(seed)
        domains = oracle.slice_domains(con, cte)
        slices = []
        for dim in SLICE_DIMS:
            choices = [v for v in domains[dim] if ("slice", dim, v) not in slices]
            slices.append(("slice", dim, rng.choice(choices)))
        requests = [r for pair in zip([("catalog", c) for c in CATALOG_REPORTS], slices)
                    for r in pair]
        expected = {}
        for req in requests:
            if req[0] == "catalog":
                sql = catalog.CATALOG[req[1]].oracle
            else:
                sql = oracle.slice_sql(cte, req[1], req[2])
            expected[req] = oracle.from_duckdb(con, sql)
        return {"requests": requests, "expected": expected}

    def cycle(self, client: int, k: int) -> list:
        """Client ``client``'s ``k``-th cycle: all eight requests, rotated so
        the two clients run different kinds at the same time.  Clients run
        whole cycles, so every run times the same mix of kinds."""
        shift = client * len(self.requests) // self.clients
        return self.requests[shift:] + self.requests[:shift]

    def warmup_requests(self, client: int) -> list:
        """Every request once, spread over the clients: the first run of each
        plan shape pays code generation."""
        return self.requests[client::self.clients]

    def _slice(self, dim: str, value):
        from pyspark.sql import functions as F

        fixtures, cleaning, encode = (package(m) for m in
                                      ("sources.fixtures", "operators.cleaning", "operators.encode"))
        df = cleaning.clean_complaints(fixtures.complaints(self.spark, self.data_dir))
        df = encode.date_parts(encode.frequency_encode(df, "company"), "date_received")
        return (
            df.filter(F.col(dim) == F.lit(value))
            .groupBy("company_response")
            .agg(
                F.count(F.lit(1)).alias("n_complaints"),
                F.round(F.avg("frequency_company"), 6).alias("avg_company_freq"),
                F.sum(F.when(F.col("timely") == "Yes", 1).otherwise(0))
                .cast("bigint").alias("n_timely"),
            )
        )

    def execute(self, req) -> tuple[str | None, None]:
        """Run one report; return (problem or None, no quality figures)."""
        with self.tracer.span("plans.catalog.plan" if req[0] == "catalog" else "report.slice.plan"):
            if req[0] == "catalog":
                df = self.catalog.CATALOG[req[1]].fn(self.spark, self.data_dir)
            else:
                df = self._slice(req[1], req[2])
        with self.tracer.span("plans.catalog.exec" if req[0] == "catalog" else "report.slice.exec"):
            rows = df.collect()
        bad = oracle.mismatch(self.expected[req], oracle.canonical(df.columns, rows))
        return (f"{req}: {bad}" if bad else None), None

    def kind(self, req) -> str:
        return req[1] if req[0] == "catalog" else f"slice_{req[1]}"


class TrainEval:
    name = "train_eval"
    clients = 1
    expected_spans = {
        "session.get_session", "sources.fixtures.complaints", "sources.readers.load_table",
        "operators.cleaning.clean_complaints", "operators.encode.date_parts",
        "operators.encode.frequency_encode", "operators.sampling.oversample_binary",
        "operators.sampling.rebalance_to_target", "operators.sampling.train_test_split",
        "operators.metrics.binary_metrics", "operators.metrics.confusion_counts",
        "ml.pipelines.fit.lr", "ml.pipelines.fit.dt", "ml.pipelines.transform",
        "ml.nlp.nlp_features", "ml.nlp.lda_topics",
    }
    TASKS = ("timely_lr", "response_dt", "narrative_lda")
    REBALANCE_TARGET = 300
    LDA_K, LDA_ITER, LDA_DOC_FRACTION = 5, 5, 0.3
    # Sanity bands.  The test split is 30% of the sampled training data; a
    # task that trains on less or different data lands outside them.
    TEST_SHARE = (0.26, 0.34)
    AUC_BAND = (0.65, 0.95)
    MACRO_F1_BAND = (0.10, 0.60)

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed, self.data_dir, self.tracer = seed, data_dir, tracer

    def setup(self, spark) -> None:
        """Build and cache the training base frame: fixture -> clean -> date parts."""
        self.spark = spark
        fixtures, cleaning, encode = (package(m) for m in
                                      ("sources.fixtures", "operators.cleaning", "operators.encode"))
        for m in ("operators.sampling", "operators.metrics", "ml.pipelines", "ml.nlp"):
            package(m)
        base = encode.date_parts(
            cleaning.clean_complaints(fixtures.complaints(spark, self.data_dir)), "date_received"
        )
        self.base = base.cache()
        self.base.count()

    @staticmethod
    def expect(seed: int, con) -> dict:
        cte = package("sources.fixtures").complaints_cte
        timely = oracle.cleaned_counts(con, cte, "timely")
        return {"oversampled_n": 2 * max(timely.values()),
                "n_classes": len(oracle.cleaned_counts(con, cte, "company_response"))}

    def cycle(self, client: int, k: int) -> list:
        """The ``k``-th round: every task samples and splits with a seed
        derived from (seed, k)."""
        return [("round", self.seed * 1000 + k)]

    def warmup_requests(self, client: int) -> list:
        """None: a warm-up round would cost as much as the timed one.  The
        set-up warms the SQL paths; the first round's MLlib paths are cold, as
        in a training job submitted as its own application."""
        return []

    def kind(self, req) -> str:
        return req[0]

    def execute(self, req) -> tuple[str | None, dict]:
        """Run one training round, the tasks in TASKS order; return (the
        first problem or None, quality figures and each task's latency)."""
        _, s = req
        problem, figures = None, {}
        for task in self.TASKS:
            t0 = time.perf_counter()
            bad, quality = getattr(self, task)(s)
            figures.update(quality, **{f"{task}_ms": 1000.0 * (time.perf_counter() - t0)})
            problem = problem or bad
        return problem, figures

    @staticmethod
    def _within(name: str, value: float, band: tuple[float, float]) -> str | None:
        lo, hi = band
        return None if lo <= value <= hi else f"{name}={value:.4f} outside [{lo}, {hi}]"

    def timely_lr(self, s: int) -> tuple[str | None, dict]:
        sampling, metrics, pipelines = (package(m) for m in
                                        ("operators.sampling", "operators.metrics", "ml.pipelines"))
        over = sampling.oversample_binary(self.base, "timely", "No", seed=s)
        train, test = sampling.train_test_split(over, seed=s)
        train = train.cache()
        try:
            with self.tracer.span("ml.pipelines.fit.lr"):
                model = pipelines.timely_pipeline("lr").fit(train)
            with self.tracer.span("ml.pipelines.transform"):
                preds = model.transform(test)
            values = {r["metric"]: r["value"] for r in metrics.binary_metrics(preds).collect()}
            auc = pipelines.auc(preds)
        finally:
            train.unpersist()
        n_test = sum(values.get(k, 0.0) for k in ("tp", "fp", "tn", "fn"))
        return (self._within("timely_test_share", n_test / self.oversampled_n, self.TEST_SHARE)
                or self._within("timely_auc", auc, self.AUC_BAND)), \
            {"timely_auc": auc, "timely_f1": values.get("f1")}

    def response_dt(self, s: int) -> tuple[str | None, dict]:
        sampling, metrics, pipelines, encode = (
            package(m) for m in
            ("operators.sampling", "operators.metrics", "ml.pipelines", "operators.encode"))
        enc = encode.frequency_encode(encode.frequency_encode(self.base, "company"), "issue")
        bal = sampling.rebalance_to_target(enc, "company_response",
                                           target=self.REBALANCE_TARGET, seed=s)
        train, test = sampling.train_test_split(bal, seed=s)
        train = train.cache()
        try:
            with self.tracer.span("ml.pipelines.fit.dt"):
                model = pipelines.response_pipeline("dt").fit(train)
            with self.tracer.span("ml.pipelines.transform"):
                preds = model.transform(test)
            cells = [(r["label"], r["prediction"], r["n"])
                     for r in metrics.confusion_counts(preds).collect()]
        finally:
            train.unpersist()
        n_test = sum(n for _, _, n in cells)
        f1s = []
        for c in {lbl for lbl, _, _ in cells}:
            tp = sum(n for lbl, p, n in cells if lbl == c and p == c)
            pred = sum(n for _, p, n in cells if p == c)
            true = sum(n for lbl, _, n in cells if lbl == c)
            f1s.append(2 * tp / (pred + true) if pred + true else 0.0)
        macro_f1 = sum(f1s) / max(1, len(f1s))
        share = n_test / (self.n_classes * self.REBALANCE_TARGET)
        return (self._within("response_test_share", share, self.TEST_SHARE)
                or self._within("response_f1", macro_f1, self.MACRO_F1_BAND)), \
            {"response_f1": macro_f1}

    def narrative_lda(self, s: int) -> tuple[str | None, dict]:
        nlp = package("ml.nlp")
        docs = (self.base.filter("complaint_what_happened <> ''")
                .select("complaint_id", "complaint_what_happened")
                .sample(fraction=self.LDA_DOC_FRACTION, seed=s))
        feats, vocab = nlp.nlp_features(docs, "complaint_what_happened")
        topics, _ = nlp.lda_topics(self.spark, feats, vocab, k=self.LDA_K, seed=s,
                                   optimizer="online", max_iter=self.LDA_ITER)
        rows = topics.collect()
        quality = {"lda_vocab": len(vocab)}
        if len(rows) != self.LDA_K * 10:
            return f"lda: {len(rows)} topic terms, expected {self.LDA_K * 10}", quality
        if any(r["term"] not in vocab or not r["weight"] > 0 for r in rows):
            return "lda: a topic term is outside the vocabulary or has no weight", quality
        return self._within("lda_vocab", len(vocab), (20, 5000)), quality


WORKLOADS = {w.name: w for w in (ReportMix, TrainEval)}
