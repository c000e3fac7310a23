"""The two closed-loop workloads.

Each workload has `setup()` (input registration, inside `setup_s`),
`before()` (untimed per-iteration preparation), `iterate()` (the timed
job: from input files to complete, observed results) and `outputs`
(the DataFrames the last iteration wrote, re-read outside the timed
window for the reference check). Every call into the program is wrapped
in a span named `<layer>.<function>`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from reference import FEATURE_COLUMNS, PATH_EVENTS


def observe_digest(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Row count and an order-free hash digest, gathered by the write job
    itself (no extra Spark job)."""
    obs = Observation(name)
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("sum31"),
        F.bit_xor(h).alias("xor"),
    ), obs


class Workload:
    name = ""
    # warm iterations every run times, however short --seconds is: a
    # median over more than one where the iteration is cheap enough to
    # keep a run near one minute (README, "Sizing")
    min_timed = 1

    def __init__(self, spark, tracer, inputs: str, props: dict, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.props = props
        self.workdir = workdir
        self.outputs: dict[str, DataFrame] = {}
        self.layer_outputs: dict[str, DataFrame] = {}

    def load(self, table: str) -> DataFrame:
        from featurestore_spark.io import load_table

        with self.tracer.span(f"io.load_table:{table}"):
            return load_table(self.spark, self.inputs, table)

    def sink(self, output: str, df: DataFrame, iteration: str) -> dict:
        """The final Spark action for one output: force it through the
        noop sink and return its digest."""
        self.outputs[output] = df
        observed, obs = observe_digest(df, f"{output}-{iteration}")
        with self.tracer.span(f"sink.noop_write:{output}"):
            observed.write.format("noop").mode("overwrite").save()
        return dict(obs.get)

    def setup(self) -> None:
        pass

    def before(self) -> None:
        pass

    def check_counts(self, result: dict, reference: dict) -> str | None:
        return None

    def written(self) -> tuple[int, int]:
        return 0, 0

    def ratios(self) -> dict:
        return {}


# -- vault_features ---------------------------------------------------------------


VAULT_KEYS = dict(entity_type="customer", id_fields=["c_custkey"], id_type="customer")
VAULT_LINK = dict(
    src_fields=["c_custkey"], src_id_type="customer",
    dst_fields=["account_id"], dst_id_type="account",
)
SAT_COLUMNS = ["c_name", "c_segment", "c_acctbal", "c_phone"]


def _listing(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class VaultFeatures(Workload):
    """The feature store's batch: load one customer delta into the Data
    Vault (hub, satellite, link; default settings) and read `current`
    back, then build the wide per-user event-feature table (event
    operators plus the registry-driven snapshot pivot)."""

    name = "vault_features"

    def _loads(self, loader, sat: DataFrame, link: DataFrame, process_time: str) -> dict:
        hub_args = dict(VAULT_KEYS, projection=["c_custkey", "op"], delete_indicator=("op", "D"))
        with self.tracer.span("load.load_hub"):
            hub = loader.load_hub(sat, table="hub", process_time=process_time, **hub_args)
        with self.tracer.span("load.load_satellite"):
            s = loader.load_satellite(
                sat, table="sat", process_time=process_time, delete_indicator=("op", "D"), **VAULT_KEYS
            )
        with self.tracer.span("load.load_link"):
            link_r = loader.load_link(link, table="link", process_time=process_time, **VAULT_LINK)
        return {"hub": hub, "sat": s, "link": link_r}

    def _loader(self, **kwargs):
        from featurestore_spark.load import VaultLoader

        return VaultLoader(self.spark, self.vault, **kwargs)

    def setup(self) -> None:
        from gen import VAULT_T0

        self.vault = os.path.join(self.workdir, "vault")
        self.base = os.path.join(self.workdir, "vault_base")
        for d in (self.vault, self.base):
            shutil.rmtree(d, ignore_errors=True)
        # the base needs no load counts: skipping them shortens set-up
        # without touching the timed delta load, which keeps the defaults
        self._loads(self._loader(collect_counts=False), self.load("base_sat"), self.load("base_link"), VAULT_T0)
        shutil.copytree(self.vault, self.base)

    def before(self) -> None:
        shutil.rmtree(self.vault)
        shutil.copytree(self.base, self.vault)
        self.restored = _listing(self.vault)

    def iterate(self, iteration: str) -> dict:
        from gen import VAULT_T1

        loader = self._loader()
        results = self._loads(loader, self.load("delta_sat"), self.load("delta_link"), VAULT_T1)
        with self.tracer.span("load.read_current"):
            cur = loader.read_current("sat")
        current = cur.select(
            "entity_id", "rectype", "version", *SAT_COLUMNS,
            F.unix_micros("start_time").alias("start_us"),
        )
        digests = {"vault_current": self.sink("vault_current", current, iteration)}
        digests["features"] = self.sink("features", self.feature_table(), iteration)
        return {
            "digest": digests,
            "results": {
                t: {"inserts": r.inserts, "updates": r.updates, "deletes": r.deletes}
                for t, r in results.items()
            },
        }

    def feature_table(self) -> DataFrame:
        from featurestore_spark.operators import events as E
        from featurestore_spark.operators.pivot import snapshot_pivot
        from featurestore_spark.queries.catalog import (
            AS_OF, SESSION_TIMEOUT_S, WIN_END, WIN_START, _ts_lit,
        )
        from featurestore_spark.store import Feature, FeatureStore

        span = self.tracer.span
        ev = self.load("events")
        keys = dict(entity_col="user_id", ts_col="ts")
        typed = dict(keys, type_col="event_type")
        win = (_ts_lit(WIN_START), _ts_lit(WIN_END))
        with span("events.sessionize"):
            sess = E.sessionize(ev, SESSION_TIMEOUT_S, tiebreak_cols=("event_id",), **keys)
        sess = sess.groupBy("user_id").agg(
            F.max("session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
        )
        with span("events.count_events"):
            purch = E.count_events(ev, "purchase", *win, out_col="n_purchases", **typed)
        with span("events.sum_events"):
            spend = E.sum_events(ev, "purchase", *win, value_col="value", out_col="_total", **typed)
        spend = spend.select("user_id", F.round("_total", 2).alias("total"))
        with span("events.count_unique_events"):
            uniq = E.count_unique_events(ev, "view", *win, value_col="value", out_col="n_unique", **typed)
        with span("events.previous_interactions"):
            prev = E.previous_interactions(
                ev, n=PATH_EVENTS, as_of=_ts_lit(AS_OF), tiebreak_cols=("event_id",), **keys
            )
        with span("events.paths"):
            path = E.paths(prev, tiebreak_cols=("event_id",), **typed)
        with span("events.extract_chords"):
            chords = E.extract_chords(ev, "purchase", **typed)
        chords = chords.select("user_id", F.unix_micros("chord_ts").alias("chord_ts_us"))
        with span("pivot.feature_store"):
            store = FeatureStore()
            for attr in ("click", "error", "purchase"):
                store.register_feature(Feature(attr, "Base", "events"))
            store.register_feature(Feature("signup", "Base", "events", active=False))
            features = store.attribute_names("events")
        with span("pivot.snapshot_pivot"):
            piv = snapshot_pivot(
                ev, features, as_of=_ts_lit(AS_OF), attr_col="event_type",
                value_col="value", tiebreak_cols=("event_id",), **keys,
            )
        self.layer_outputs = {
            "events.sessionize": sess, "events.count_events": purch,
            "events.sum_events": spend, "events.count_unique_events": uniq,
            "events.paths": path, "events.extract_chords": chords,
            "pivot.snapshot_pivot": piv,
        }
        wide = chords
        for part in (sess, purch, spend, uniq, path, piv):
            wide = wide.join(part, "user_id", "left")
        return wide.select(*FEATURE_COLUMNS)

    def written(self) -> tuple[int, int]:
        """(bytes, files) the last iteration wrote under the vault."""
        after = _listing(self.vault)
        new = [p for p, v in after.items() if self.restored.get(p) != v]
        return sum(after[p][0] for p in new), len(new)

    def check_counts(self, result: dict, reference: dict) -> str | None:
        if result["results"] != reference["results"]:
            return f"load counts {result['results']} != expected {reference['results']}"
        return None

    def rows_per_iteration(self) -> int:
        v = self.props["vault"]
        return v["delta_rows"] + v["delta_link_rows"] + self.props["events"]["events"]


# -- corpus_dedup -----------------------------------------------------------------

DEDUP_ARGS = dict(n=3, k=16, bands=4, max_bucket=1000)  # the q_dedup_best constants


class CorpusDedup(Workload):
    """Gopher curation, then keep-best fuzzy dedup over the curated text."""

    name = "corpus_dedup"
    min_timed = 2

    def iterate(self, iteration: str) -> dict:
        from featurestore_spark.operators.curation import curate_corpus
        from featurestore_spark.operators.dedup import dedup_keep_best

        docs = self.load("documents")
        with self.tracer.span("curation.curate_corpus"):
            curated = curate_corpus(docs, "gopher")
        self.curated = curated.withColumn("n_chars", F.length("text").cast("bigint"))
        with self.tracer.span("dedup.dedup_keep_best"):
            kept = dedup_keep_best(self.curated, "n_chars", **DEDUP_ARGS)
        self.layer_outputs = {"curation.curate_corpus": curated}
        kept = kept.select("doc_id", "cluster_id")
        return {"digest": {"kept": self.sink("kept", kept, iteration)}}

    def ratios(self) -> dict:
        """Funnel ratios of the last iteration, each with its base."""
        from featurestore_spark.operators.dedup import (
            minhash_candidate_pairs,
            minhash_dedup_edges,
        )

        docs_in = self.props["docs"]["docs"]
        curated = self.curated.count()
        kept = self.outputs["kept"].count()
        reps = self.curated.select("doc_id", "text").dropDuplicates(["text"])
        cand = minhash_candidate_pairs(reps, **DEDUP_ARGS).count()
        edges = minhash_dedup_edges(reps, threshold=0.8, **DEDUP_ARGS).count()
        return {
            "curation.yield": (curated / docs_in, f"{curated}/{docs_in} docs"),
            "dedup.verify_ratio": (edges / cand if cand else 0.0, f"{edges}/{cand} candidate pairs"),
            "dedup.kept_ratio": (kept / curated if curated else 0.0, f"{kept}/{curated} curated docs"),
        }

    def rows_per_iteration(self) -> int:
        return self.props["docs"]["docs"]


WORKLOADS = {w.name: w for w in (VaultFeatures, CorpusDedup)}
