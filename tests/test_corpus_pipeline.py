"""End-to-end training-corpus build (plans/corpus_pipeline.py):
JSONL ingest -> curation -> split -> manifest publication, with the
invariants a production pipeline is graded on."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from etl_tj_project_spark import manifest
from etl_tj_project_spark.plans.corpus_pipeline import build_training_corpus
from etl_tj_project_spark.sources.testdata import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def jsonl_shards(spark, tmp_path):
    """Dogfood: the sf0.001 documents table written as JSONL shards,
    plus a malformed shard the quarantine must absorb."""
    out = tmp_path / "shards"
    load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text", "lang", "source"
    ).coalesce(2).write.json(str(out))
    (out / "bad-shard.json").write_text(
        '{"doc_id": 900001, "text": "valid extra doc about the bus '
        'network system", "lang": "en", "source": "srcX"}\n'
        '{"doc_id": broken json line\n'
        '{"text": "no id", "lang": "en", "source": "srcX"}\n'
    )
    return str(out)


def test_pipeline_publishes_curated_snapshot(spark, jsonl_shards, tmp_path):
    root = str(tmp_path / "published")
    stats = build_training_corpus(spark, jsonl_shards, root)
    assert stats["version"] == 1
    assert stats["n_quarantined"] == 2  # broken json + missing id
    # n_input comes from the Observation API (collected during the
    # publication scan, not an extra pass) and must be EXACT: the 500
    # table docs + the 1 valid extra shard doc. An observe node double-
    # counted by a self-joining plan would report ~2x here.
    assert stats["n_input"] == 501
    assert 0 < stats["n_published"] < stats["n_input"]

    corpus = manifest.read_table(spark, root, "corpus")
    # invariant: published corpus is exactly dedup'd (no duplicate
    # normalized fingerprints survive).
    from etl_tj_project_spark.functions.text import doc_fingerprint

    dups = (
        corpus.select(doc_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0
    # invariant: every row has a split and redacted long digit runs.
    assert corpus.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    assert corpus.filter(F.col("text").rlike("[0-9][0-9][0-9]")).count() == 0
    # stats table agrees with the corpus.
    stats_tbl = manifest.read_table(spark, root, "split_stats")
    assert (
        stats_tbl.agg(F.sum("n_docs")).collect()[0][0]
        == stats["n_published"]
    )


def _spy_persist(spark, monkeypatch) -> list:
    """Record every frame persisted while the patch is live."""
    cls = type(spark.range(1))
    real = cls.persist
    seen: list = []

    def persist(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", persist)
    return seen


def _spine(persisted: list):
    spines = [df for df in persisted if "split" in df.columns]
    assert len(spines) == 1, [df.columns for df in persisted]
    return spines[0]


def test_pipeline_commit_reads_input_once(
    spark, jsonl_shards, tmp_path, monkeypatch
):
    """split_stats aggregates the persisted spine: during the commit the
    JSONL input is scanned by the corpus write's SQL execution only
    (unpersisted, the split_stats write re-ran ingest -> dedup), and the
    spine and every other cache the pipeline built (the LSH band table
    among them) are released once the commit returns."""
    n_lines = sum(
        len(open(os.path.join(jsonl_shards, f)).read().splitlines())
        for f in os.listdir(jsonl_shards)
        if not f.startswith((".", "_"))
    )
    sc = spark.sparkContext
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        # One job group per published table: <root>/<table>/snap-<v>.
        table = os.path.basename(os.path.dirname(path))
        sc.setJobGroup(f"commit:{table}", table)
        try:
            return real_parquet(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    persisted = _spy_persist(spark, monkeypatch)
    n_cached = sc._jsc.getPersistentRDDs().size()
    stats = build_training_corpus(spark, jsonl_shards, str(tmp_path / "pub"))
    assert stats["n_input"] == 501  # the Observation fired exactly once
    assert sc._jsc.getPersistentRDDs().size() == n_cached

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()

    def scans_input(sid: int) -> bool:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never submitted
            return False
        return stage.inputRecords() == n_lines

    readers = {}  # table -> SQL executions with a stage scanning the input
    for table in ("corpus", "split_stats"):
        readers[table] = {
            store.jobWithAssociatedSql(jid)._2().get()
            for jid in tracker.getJobIdsForGroup(f"commit:{table}")
            if any(map(scans_input, tracker.getJobInfo(jid).stageIds))
        }
    assert len(readers["corpus"]) == 1, readers
    assert readers["split_stats"] == set(), readers
    assert _spine(persisted).storageLevel == StorageLevel.NONE


def test_pipeline_failed_commit_releases_spine(
    spark, jsonl_shards, tmp_path, monkeypatch
):
    """A commit that raises after the spine was materialized (the
    split_stats write fails) still releases the persisted spine and
    every other cache the pipeline built."""
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if "split_stats" in path:
            raise OSError("injected split_stats write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    persisted = _spy_persist(spark, monkeypatch)
    root = str(tmp_path / "pub")
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(OSError, match="injected"):
        build_training_corpus(spark, jsonl_shards, root)
    assert _spine(persisted).storageLevel == StorageLevel.NONE
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
    assert manifest.current_manifest(root) is None  # nothing published


def test_pipeline_split_is_deterministic_and_versioned(
    spark, jsonl_shards, tmp_path
):
    root = str(tmp_path / "published2")
    build_training_corpus(spark, jsonl_shards, root)
    first = {
        r.doc_id: r.split
        for r in manifest.read_table(spark, root, "corpus").collect()
    }
    stats2 = build_training_corpus(spark, jsonl_shards, root)
    assert stats2["version"] == 2  # snapshot versioning, no overwrite
    second = {
        r.doc_id: r.split
        for r in manifest.read_table(spark, root, "corpus").collect()
    }
    assert first == second  # salted-MD5 split: re-runs never reshuffle
    # time travel still serves v1
    v1 = manifest.read_table(spark, root, "corpus", version=1)
    assert v1.count() == len(first)


def test_pipeline_with_boilerplate_and_classifier_stages(spark, tmp_path):
    """Round-11 opt-in stages, end-to-end with planted inputs: (1) a
    header chunk shared by many docs must be stripped from every
    published text (boilerplate removal runs BEFORE dedup, so the
    shared header must also not glue distinct docs into near-dups);
    (2) a junk doc that passes the RULE-based filters must be dropped
    by the MODEL-based classifier stage."""
    from etl_tj_project_spark.harness_llmdata import _CLF_WEIGHTS

    header = (
        "shared banner chunk repeated on every page of this site "
        "navigation home about contact login"  # 15 words: chunk 0 of
        # every doc is the identical first 12 — the boilerplate unit
    )
    topics = ["ingestion", "compaction", "lineage", "watermarks"]
    bodies = [
        # Distinct bodies (near-dup must NOT collapse them), each with
        # en lang-ID markers ('the', 'of', 'and') and positive
        # classifier mass (spark/data/query/...).
        f"the spark data query of stream and window merge sort hash "
        f"column group agg vector notes on {t} covering {t} details "
        f"and more {t} specific content words here for {t}"
        for t in topics
    ]
    junk = (
        "a a the the slow slow small big row line a the slow small big "
        "row line a the slow"
    )
    rows = [(i, header + " " + bodies[i], "en", "srcA") for i in range(4)]
    rows.append((10, junk, "en", "srcB"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    root = str(tmp_path / "published")
    stats = build_training_corpus(
        spark,
        docs,
        root,
        boilerplate_min_docs=3,
        classifier_weights=_CLF_WEIGHTS,
        thresholds=None,
    )
    corpus = manifest.read_table(spark, root, "corpus")
    texts = [r.text for r in corpus.collect()]
    # (1) the shared header chunk is gone from every published doc...
    assert texts and all("shared banner chunk" not in t for t in texts)
    # ...while each doc's unique body survived.
    assert all("content words here" in t for t in texts)
    # (2) the junk doc was dropped by the classifier stage (it passes
    # rule-based thresholds: long enough, alpha-heavy, 'en').
    assert all("slow slow" not in t for t in texts)
    assert stats["n_published"] == len(texts) == 4


def test_pipeline_with_lcc_second_pass_merges_template_families(
    spark, tmp_path
):
    """Round-17 wiring (VERDICT r16 item 1): the LCC-driven second
    dedup pass, reachable from the production pipeline surface. With
    ``lcc_merge_threshold_milli`` set, near dedup switches to the
    canonical family-manifest variant (COVERAGE.md decision rule), the
    second pass merges near-miss template super-families the bands=4
    family definition missed, and the MERGED manifest is published as
    a snapshot table. Pins: (1) merging actually happened end-to-end
    (fewer published families than the first pass alone produces on
    the same filtered corpus), (2) the published corpus is exactly one
    canonical per family, (3) document mass is conserved through the
    merge, (4) a full pipeline re-run is idempotent — version 2
    publishes an identical manifest and corpus."""
    from etl_tj_project_spark.harness_r16 import LCC_MERGE_THRESHOLD_MILLI
    from etl_tj_project_spark.operators.corpus import (
        QualityThresholds,
        prepare_corpus_canonical,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    # Permissive bounds: the template families under test live in the
    # synthetic table; the quality gate is not what this test pins.
    keep_all = QualityThresholds(
        min_chars=1,
        min_tokens=1,
        max_punct_ratio=1.0,
        min_alpha_ratio=0.0,
        max_stopword_ratio=1.0,
    )
    langs = ("en", "es", "fr", "de", "und")

    # First-pass-only baseline over the SAME filtered corpus: the
    # merge must be observable as a strict family-count drop.
    _, first_pass = prepare_corpus_canonical(
        docs, th=keep_all, languages=langs
    )
    n_first = first_pass.count()

    root = str(tmp_path / "published")
    stats = build_training_corpus(
        spark,
        docs,
        root,
        thresholds=keep_all,
        languages=langs,
        lcc_merge_threshold_milli=LCC_MERGE_THRESHOLD_MILLI,
    )
    man = manifest.read_table(spark, root, "dedup_manifest")
    n_merged = man.count()
    assert 0 < n_merged < n_first, (n_merged, n_first)

    # One published doc per family; published ids ARE the canonicals.
    corpus = manifest.read_table(spark, root, "corpus")
    assert stats["n_published"] == corpus.count() == n_merged
    ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    canon = {
        r.canonical_doc_id for r in man.select("canonical_doc_id").collect()
    }
    assert ids == canon

    # Mass conservation through the merge: the merged manifest carries
    # every document the first pass assigned to a family.
    assert (
        man.agg(F.sum("n_members")).first()[0]
        == first_pass.agg(F.sum("n_members")).first()[0]
    )

    # Full-pipeline re-run: new snapshot version, identical decision.
    stats2 = build_training_corpus(
        spark,
        docs,
        root,
        thresholds=keep_all,
        languages=langs,
        lcc_merge_threshold_milli=LCC_MERGE_THRESHOLD_MILLI,
    )
    assert stats2["version"] == stats["version"] + 1
    assert stats2["n_published"] == stats["n_published"]
    man2 = manifest.read_table(spark, root, "dedup_manifest")
    assert man2.exceptAll(man).count() == 0
    assert man.exceptAll(man2).count() == 0
