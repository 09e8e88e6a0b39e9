"""State-schema pins for the streaming twins on the shared fold runner.

Each twin's staged state rows must keep the column names and types its
earlier hand-written batch step wrote: a restart after an upgrade reads
the old ``batch=N`` parquet parts and the new ones as ONE dir, and mixed
types (``src_batch`` int in some parts, long in others) do not read
back. Each twin runs its real per-batch step once on a small static
frame; the rows it hands to ``write_batch_state`` are captured, not
written, so no drain work runs.
"""

import pytest

from wurzel_spark.streaming import (
    _state,
    anomalies,
    benford,
    blocklist,
    botscore,
    calibration,
    ccnet,
    checksum,
    chunks,
    cms,
    codeswitch,
    curation,
    dedup,
    drift,
    fertility,
    fof,
    index,
    ksdrift,
    langspans,
    novelty,
    ols,
    percentiles,
    priority,
    quality,
    quantiles,
    readability,
    sketch,
    snapshots,
    sourcetv,
    substrings,
    tcloseness,
    temporal,
    unicode,
    waterfill,
)
from wurzel_spark.tables import table

# Recorded from the hand-written batch steps, before the fold runner.
STATE_SCHEMAS = {
    "anomalies": "event_type string, hour timestamp, c bigint, src_batch int",
    "benford": "digit int, n_values bigint, src_batch int",
    "blocklist": "source string, n_docs bigint, flagged_docs bigint, gated_docs bigint, total_hits bigint, total_tokens bigint, src_batch int",
    "botscore": "user_id bigint, kind string, k string, c bigint, src_batch int",
    "calibration": "source string, q1000 bigint, pos bigint, neg bigint, src_batch int",
    "ccnet": "doc_id bigint, source string, lang string, h1 bigint, h2 bigint, m bigint, src_batch int",
    "checksum": "source string, n_docs bigint, sum_chars bigint, checksum bigint, src_batch int",
    "chunks": "doc_id bigint, chunk_idx bigint, chunk_len bigint, chunk_hash string",
    "cms": "i int, cell bigint, c bigint, src_batch bigint",
    "codeswitch": "source string, n_docs bigint, n_unmarked bigint, n_monolingual bigint, n_mixed bigint, src_batch int",
    "curation": "h string",
    "dedup": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "drift": "day timestamp, event_type string, c bigint, src_batch bigint",
    "fertility": "source string, lang string, n_docs bigint, n_ws_tokens bigint, n_subword_tokens bigint, n_chars bigint, src_batch int",
    "fof": "source string, h bigint, c bigint, src_batch int",
    "index": "h bigint, doc_id bigint, tf bigint, src_batch int",
    "ksdrift": "source string, v bigint, c decimal(38,0), src_batch int",
    "langspans": "source string, lang string, n_lines bigint, n_docs bigint, src_batch int",
    "novelty": "id bigint, shingle bigint",
    "ols": "l_returnflag string, n decimal(38,0), sx decimal(38,0), sy decimal(38,0), sxy decimal(38,0), sxx decimal(38,0), src_batch int",
    "percentiles": "event_type string, v_milli bigint, c bigint, src_batch int",
    "priority": "doc_id bigint, source string, w bigint, q decimal(38,0), src_batch int",
    "priority_stratified": "doc_id bigint, source string, w bigint, q decimal(38,0), src_batch int",
    "quality": "source string, b bigint, n_docs bigint, n_tokens bigint, src_batch int",
    "quantiles": "source string, doc_id bigint, n_chars bigint",
    "readability": "source string, n_docs bigint, n_unscored bigint, sum_flesch_milli decimal(38,0), sum_grade_milli decimal(38,0), n_easy bigint, n_standard bigint, n_hard bigint, src_batch int",
    "sketch": "source string, bucket bigint, reg int",
    "snapshots": "id bigint, new_hash string",
    "sourcetv": "source string, w string, c decimal(38,0), src_batch int",
    "substrings": "doc_id bigint, s int, h bigint",
    "tcloseness": "source string, lang string, c decimal(38,0), src_batch int",
    "temporal": "event_type string, hour timestamp, c decimal(38,0), src_batch int",
    "unicode": "source string, n_docs bigint, n_docs_affected bigint, n_chars bigint, n_zero_width bigint, n_control bigint, n_space_mapped bigint, n_fullwidth bigint, src_batch int",
    "waterfill": "source string, avail bigint, src_batch int",
}

# twin -> (input table, run(stream, state_dir, checkpoint_dir))
TWINS = {
    "anomalies": ("events", anomalies.event_anomaly_stream),
    "benford": ("lineitem", benford.benford_stream),
    "blocklist": ("documents", blocklist.blocklist_stream),
    "botscore": ("events", botscore.bot_score_stream),
    "calibration": ("documents", calibration.calibration_stream),
    "ccnet": ("documents", ccnet.ccnet_stream),
    "checksum": ("documents", checksum.checksum_stream),
    "chunks": ("documents", chunks.chunk_dedup_stream),
    "cms": (
        "documents",
        lambda s, sd, ck: cms.cms_stream_estimates(s, ["the"], sd, ck),
    ),
    "codeswitch": ("documents", codeswitch.code_switch_stream),
    "curation": (
        "documents",
        lambda s, sd, ck: curation.curation_funnel_stream(s, ck, ledger_dir=sd),
    ),
    "dedup": (
        "documents",
        lambda s, sd, ck: dedup.curate_stream_to_versioned_sink(
            s, ck, None, staging_dir=sd
        ),
    ),
    "drift": ("events", drift.event_drift_stream),
    "fertility": ("documents", fertility.fertility_stream),
    "fof": ("documents", fof.fof_stream),
    "index": ("documents", index.index_stream),
    "ksdrift": ("documents", ksdrift.ks_drift_stream),
    "langspans": ("documents", langspans.line_lang_stream),
    "novelty": ("documents", novelty.novelty_stream),
    "ols": ("lineitem", ols.ols_stream),
    "percentiles": ("events", percentiles.value_percentiles_stream),
    "priority": ("documents", priority.priority_sample_stream),
    "priority_stratified": ("documents", priority.priority_stratified_stream),
    "quality": ("documents", quality.quality_sweep_stream),
    "quantiles": ("documents", quantiles.sample_quantile_stream),
    "readability": ("documents", readability.readability_stream),
    "sketch": ("documents", sketch.hll_stream_distinct),
    "snapshots": (
        "documents",
        lambda s, sd, ck: snapshots.snapshot_diff_stream(s, s.df, sd, ck),
    ),
    "sourcetv": ("documents", sourcetv.source_tv_stream),
    "substrings": ("documents", substrings.exact_substring_stream),
    "tcloseness": ("documents", tcloseness.tcloseness_stream),
    "temporal": ("events", temporal.temporal_battery_stream),
    "unicode": ("documents", unicode.unicode_stats_stream),
    "waterfill": ("documents", waterfill.waterfill_stream),
}


class _OneBatch:
    """Stands in for a streaming DataFrame: ``writeStream...start()``
    runs the foreachBatch function once, as batch 0, on a static frame."""

    def __init__(self, df):
        self.df = df
        self.sparkSession = df.sparkSession

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, process):
        self.process = process
        return self

    def option(self, *_):
        return self

    def trigger(self, **_):
        return self

    def start(self):
        self.process(self.df, 0)
        return self

    def awaitTermination(self):
        pass


@pytest.fixture(scope="module")
def inputs(spark, sf_dir):
    return {
        name: table(spark, sf_dir, name).limit(40).localCheckpoint()
        for name in ("documents", "events", "lineitem")
    }


def test_every_runner_twin_is_pinned():
    assert set(TWINS) == set(STATE_SCHEMAS)


@pytest.mark.parametrize("twin", sorted(TWINS))
def test_staged_state_schema_matches_hand_written_step(
    twin, inputs, tmp_path, monkeypatch
):
    staged = {}

    def capture(spark, df, state_dir, *args, **kwargs):
        staged[state_dir] = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )

    monkeypatch.setattr(_state, "write_batch_state", capture)
    src, run = TWINS[twin]
    state_dir = str(tmp_path / "state")
    run(_OneBatch(inputs[src]), state_dir, str(tmp_path / "ckpt"))
    assert staged == {state_dir: STATE_SCHEMAS[twin]}
