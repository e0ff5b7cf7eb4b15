"""Physical-plan regression guards (PLANS.md claims, pinned).

Each test asserts a load-bearing property of an executed plan that a
careless refactor could silently regress: a broadcast that must not
become a shuffle, a pipeline that must keep payloads out of every
exchange. String checks are against Spark 4.1.2's executedPlan
formatting (pinned in this sandbox).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def sf(testdata):
    return str(testdata / 'sf0.001')


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontamination_train_side_never_shuffles(spark, sf):
    """The benchmark shingle set must broadcast; the training corpus
    must reach the semi-join without an exchange on its shingles."""
    import __spark_entry__ as e
    p = _plan(e.queries()['q_decontamination'](spark, sf))
    assert 'BroadcastHashJoin' in p and 'LeftSemi' in p
    assert 'SortMergeJoin' not in p


def test_extraction_transform_no_payload_in_exchange(spark):
    """pipeline.transform: the only shuffle is the narrow content-hash
    aggregate — html payload and extracted/preprocessed text must
    never appear in any Exchange's output columns."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.pipeline import transform
    df = transform(web_pages_df(spark, 50, num_partitions=2), 'plan-audit')
    plan = _plan(df)
    for line in plan.splitlines():
        if 'Exchange' in line:
            assert 'html' not in line
            assert 'extracted_text' not in line
            assert 'preprocessed_text' not in line


def test_extraction_single_arrow_eval_python(spark):
    """extract+preprocess must stay FUSED: exactly one ArrowEvalPython
    node (two chained pandas UDFs double Python workers per task)."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.operators.extraction import extracted
    plan = _plan(extracted(web_pages_df(spark, 50, num_partitions=2)))
    assert plan.count('ArrowEvalPython') == 1


def test_scan_prunes_columns_for_narrow_query(spark, sf):
    """Column pruning reaches the parquet scan: a two-column projection
    must not read the text payload."""
    df = (spark.read.parquet(f'{sf}/documents.parquet')
          .groupBy('lang').agg(F.count('*').alias('n')))
    qe = df._jdf.queryExecution().toString()
    assert 'ReadSchema' in qe
    read_schema = [ln for ln in qe.splitlines() if 'ReadSchema' in ln][-1]
    assert 'text' not in read_schema


def test_filter_pushdown_reaches_scan(spark, sf):
    df = (spark.read.parquet(f'{sf}/events.parquet')
          .filter(F.col('user_id') == 7).select('event_id'))
    qe = df._jdf.queryExecution().toString()
    assert 'PushedFilters: [' in qe
    pushed = [ln for ln in qe.splitlines() if 'PushedFilters' in ln][-1]
    assert 'user_id' in pushed


def _formatted(spark, df) -> str:
    fm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        'formatted')
    return df._jdf.queryExecution().explainString(fm)



def _sections(formatted: str) -> list[tuple[str, str, str]]:
    """[(operator_id, operator_name, section_text)] from the operator
    DETAILS region of a formatted explain (details follow both plan
    trees, so callers filter by the ids present in the final tree)."""
    import re
    out, cur_id, cur_name, cur = [], None, None, []
    for ln in formatted.splitlines():
        m = re.match(r'\((\d+)\) (\w+)', ln)
        if m:
            if cur_name:
                out.append((cur_id, cur_name, '\n'.join(cur)))
            cur_id, cur_name, cur = m.group(1), m.group(2), [ln]
        elif cur_name:
            cur.append(ln)
    if cur_name:
        out.append((cur_id, cur_name, '\n'.join(cur)))
    return out



def _final_ids(formatted: str) -> set[str]:
    """Operator ids appearing in FINAL plan regions of a formatted
    AQE explain. A nested InMemoryRelation carries its OWN
    AdaptiveSparkPlan whose '== Initial Plan ==' marker appears before
    the outer final tree finishes printing, so 'split at the first
    Initial marker' (the r5 recipe) drops outer-final operators.
    Track marker blocks by INDENTATION: a marker governs exactly the
    deeper-or-equal-indented lines below it until indentation falls
    back past it; scanning stops where the details region starts
    (section headers at column 0)."""
    import re
    ids: set[str] = set()
    stack: list[tuple[int, bool]] = []   # (marker indent, is_final)
    for ln in formatted.splitlines():
        if re.match(r'^\(\d+\) ', ln):   # details region begins
            break
        stripped = ln.lstrip(' :+|-*')
        indent = len(ln) - len(stripped)
        if stripped.startswith(('== Final Plan ==', '== Initial Plan ==')):
            while stack and stack[-1][0] >= indent:
                stack.pop()
            stack.append((indent, stripped.startswith('== Final')))
            continue
        m = re.search(r'\((\d+)\)', ln)
        if not m:
            continue
        while stack and stack[-1][0] > indent:
            stack.pop()
        if not stack or stack[-1][1]:
            ids.add(m.group(1))
    return ids



def test_gopher_repetition_text_never_in_exchange(spark, sf):
    """gopher_repetition (round 6): one exploded union of narrow
    (id, kind, key) rows — the document text column itself must not
    ride any Exchange (keys are lines/paragraphs/n-grams, bounded per
    row; the full text never moves)."""
    from pdf_ai_mapper_spark.operators.textstats import gopher_repetition
    docs = spark.read.parquet(f'{sf}/documents.parquet') \
        .select('doc_id', 'text')
    import re

    out = gopher_repetition(docs)
    out.collect()
    fm = _formatted(docs.sparkSession, out)
    for dep in getattr(out, '_persisted_deps', ()):
        dep.unpersist()
    # Check the exchanges' INPUT COLUMN lists from the formatted
    # details (the toString line only shows partition KEYS, and
    # round-robin exchanges have none; ADVICE r7). Scoped exemption: a
    # ROUND-ROBIN exchange may carry raw text — that is the
    # ensure_min_parallelism spread, which fires only on single-split
    # inputs (this one-row-group parquet file) and sits on the scan;
    # keyed exchanges never carry text.
    final_ids = _final_ids(fm)
    n_exchanges = 0
    for sid, name, section in _sections(fm):
        if sid not in final_ids or name != 'Exchange':
            continue
        n_exchanges += 1
        inputs = ' '.join(ln for ln in section.splitlines()
                          if ln.startswith('Input'))
        if 'RoundRobinPartitioning' not in section:
            assert 'text#' not in inputs, section
    assert n_exchanges >= 1



def test_release_contract_no_persist_leaks(spark, sf):
    """Every catalog query that persists internally (shared array
    bases, LSH signatures, connected-component labels) must leave ZERO
    persisted RDDs behind — a leak per call accumulates MEMORY_AND_DISK
    tables across a bench loop or a long driver session."""
    # NOT covered: q_minhash_incremental — its operator
    # localCheckpoint()s, and checkpointed RDDs stay registered until
    # the JVM ContextCleaner GCs the unreferenced handles (bounded per call,
    # self-cleaning; a hard unpersist would break the lineage
    # truncation they exist for).
    import __spark_entry__ as e
    cat = e.queries()

    def _ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # the suite shares one session: earlier tests may have left
    # checkpoint-class RDDs behind (GC-cleaned) — assert no GROWTH
    # beyond the baseline, not absolute zero
    baseline = _ids()
    for name in ('q_gopher_repetition', 'q_cluster_keep_best',
                 'q_minhash_near_dups'):
        cat[name](spark, sf).collect()
        new = _ids() - baseline
        assert not new, (name, new)


def test_cluster_spark_conf_contract():
    """cluster_spark_conf (round 7, from the drift A/B straggler
    finding): the real-cluster conf must enable speculation and
    decommissioning and must NOT be baked into get_spark's local-mode
    defaults (speculation double-runs tasks inside one JVM)."""
    import inspect
    from pdf_ai_mapper_spark.session import cluster_spark_conf, get_spark
    conf = cluster_spark_conf()
    assert conf['spark.speculation'] == 'true'
    assert conf['spark.decommission.enabled'] == 'true'
    assert all(isinstance(v, str) for v in conf.values())  # builder-safe
    src = inspect.getsource(get_spark)
    assert 'speculation' not in src


def test_run_pipeline_builder_carries_cluster_conf():
    """The spark-submit entry's session builder carries every
    ``cluster_spark_conf`` item, leaves the master to spark-submit, and
    keeps Spark's parallel table listing (``get_spark`` raises the
    listing threshold for local tables only). Building it starts no
    JVM."""
    import importlib.util
    from pathlib import Path
    from pdf_ai_mapper_spark.session import cluster_spark_conf
    path = Path(__file__).resolve().parents[1] / 'scripts' / 'run_pipeline.py'
    spec = importlib.util.spec_from_file_location('run_pipeline', path)
    run_pipeline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_pipeline)
    options = run_pipeline.session_builder()._options
    assert cluster_spark_conf().items() <= options.items()
    assert 'spark.master' not in options
    assert not any('parallelPartitionDiscovery' in k for k in options)
