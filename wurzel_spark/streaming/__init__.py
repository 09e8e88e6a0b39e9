"""Structured Streaming twins of the batch operators and queries.

The reference has NO streaming (SURVEY §1.3) — its freshness model is cron
re-runs + versioned collections. ``Trigger.AvailableNow`` is the exact
scheduled-batch parity point. Most twins are foreachBatch declarations on
the one fold runner in ``_state.py`` (``fold_stream``): a batch-grain
stage function, the state keys, and a drain that feeds the batch
operator's own tail — bit-equal to the batch form under any batch split,
and safe under crash and replay by the fold protocol documented there.
Row-local twins (classifier scoring, decontamination, enrichment,
compressibility) land per-batch output through ``output_stream`` (skip
empty → compute → overwrite ``batch=N``) on the same availableNow drive.
The watermarked windowed aggregations
(``events``), the stateful ``applyInPandasWithState`` operators
(sessions, funnel, cohort) and the stream-stream interval join
(``rangejoin``) are the native-engine paths for continuous feeds.
"""
