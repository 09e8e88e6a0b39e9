"""Driver-contract consistency guards: the cross-file invariants that
scripted edits can silently break (r6 lesson: a dedup script ate two
oracle_sql entries — caught only by a full verify run)."""

import re


def _entry():
    import __spark_entry__ as e

    return e


def test_every_oracle_key_has_a_query():
    e = _entry()
    qs, orc = e.queries(), e.oracle_sql()
    missing = sorted(set(orc) - set(qs))
    assert not missing, f"oracle entries without queries: {missing}"


def test_known_rows_only_set_is_intentional():
    """Every queries() entry WITHOUT an oracle must be on the declared
    rows-only list — a new query landing here unintentionally (or an
    oracle entry getting dropped by a scripted edit) fails loudly."""
    e = _entry()
    rows_only = sorted(set(e.queries()) - set(e.oracle_sql()))
    declared = sorted([
        "ann_topk_ivf", "ann_topk_ivfpq", "ann_topk_lsh", "ann_topk_multiprobe",
        "ann_topk_pq", "bloom_decontam_fast", "bpe_merges", "bpe_token_stats",
        "chunk_dedup_stats", "winnow_overlap_pairs_fast",
        "combined_near_dup_pairs", "compressibility_stats", "embed_documents",
        "embed_multivector_docs", "image_near_dup_pairs",
        "lang_id_classifier_scores", "minhash_lsh_pairs",
        "multimodal_audio_features", "multimodal_decode_stats",
        "multimodal_frame_stats", "quality_classifier_scores",
        "retrieval_self_eval", "semantic_split_chunks", "simhash_near_pairs",
        "tlsh_fingerprints",
        # r7: engine-hash banding internals; S-curve pinned in
        # tests/test_lsh_sweep.py
        "lsh_param_sweep",
        # r8: xxhash64 production twin of ngram_diversity_hll (register
        # values engine-specific; n_grams parity pinned in test_round8b)
        "ngram_diversity_hll_fast",
        # r9: recall/precision audit of the engine-specific MinHash-LSH
        # pair set vs exact Jaccard; invariants pinned in test_round9
        "lsh_recall_audit",
    ])
    # retrieval_self_eval HAS an oracle since its r6 restoration
    declared = [d for d in declared if d != "retrieval_self_eval"]
    assert rows_only == declared, (
        f"unexpected rows-only drift:\n  extra={sorted(set(rows_only)-set(declared))}"
        f"\n  missing={sorted(set(declared)-set(rows_only))}"
    )


def test_bench_headline_subset_of_queries_and_abbrs_unique():
    e = _entry()
    src = open("/root/repo/bench.py").read()
    names = re.findall(
        r'^\s+"([a-z0-9_]+)",', src.split("HEADLINE = [")[1].split("]")[0], re.M
    )
    qs = e.queries()
    missing = [n for n in names if n not in qs]
    assert not missing, f"bench HEADLINE entries not in queries(): {missing}"

    def abbr(n):
        return "".join(t[:3] for t in n.split("_"))

    abbrs = [abbr(n) for n in names]
    assert len(set(abbrs)) == len(abbrs), "compact-line abbreviation collision"


def test_window_boundary_marker_position():
    """The 'driver 50-query window boundary' comment must sit exactly
    after the 50th queries() entry — the driver checks the first 50, and
    a drifting marker misstates driver coverage (ADVICE r6 #1)."""
    src = open("/root/repo/__spark_entry__.py").read()
    marker = src.index("driver 50-query window boundary")
    before = re.findall(r'^\s{8}"[a-z0-9_]+":', src[:marker], re.M)
    assert len(before) == 50, (
        f"boundary marker sits after {len(before)} entries, expected 50"
    )


def test_driver_window_has_50_entries_and_no_dups():
    import ast
    import collections

    src = open("/root/repo/__spark_entry__.py").read()
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            d = [n for n in ast.walk(node) if isinstance(n, ast.Dict)][0]
            keys = [k.value for k in d.keys]
            dups = [k for k, v in collections.Counter(keys).items() if v > 1]
            assert not dups, f"duplicate queries() keys: {dups}"
            assert len(keys) >= 50, "driver window underfilled"
            return
    raise AssertionError("queries() not found")


def test_bench_compact_line_fits_driver_tail_capture():
    """The driver keeps only the LAST 2000 chars of bench.py stdout and
    json-parses the final line — r7's combined-dict line (~3.9 KB) came
    back "parsed": null and the round lost its bench metric. Guard: the
    compact line stays under budget for the CURRENT headline list even in
    the worst width case (every query slow → 4-digit centiseconds), and
    the fold-into-"oth" path keeps totals reconstructible."""
    import json

    import bench

    names = bench.HEADLINE  # the module attribute IS the current list
    assert len(names) >= 100
    # worst realistic case: every query at 99.99 s → 4-digit centiseconds
    times = {n: 99.99 for n in names}
    line = bench.compact_line(times, 0.1, sum(times.values()), 123.456)
    # r13: with the FIXED keep-set (VERDICT r12 What's-wrong #2) the
    # worst case is deterministic at ~1.89 KB — the bound is
    # compact_line's own trim budget (1900), under which the emergency
    # fold would start trimming keep-set names; the hard driver contract
    # is "one whole line inside the 2000-char tail capture", which 1900
    # plus the newline satisfies. The old 1800 margin belonged to the
    # speed-ranked fold, whose membership churn it was padding against.
    assert len(line) <= 1900, f"compact line too long: {len(line)}"
    parsed = json.loads(line)
    assert parsed["m"] == "spark_q_cs" and parsed["unit"] == "sec"
    kept_cs = sum(parsed["queries"].values())
    oth = parsed.get("oth", {"n": 0, "cs": 0})
    assert oth["n"] + len(parsed["queries"]) == len(names)
    # total reconstructible from kept + oth within rounding slack
    assert abs((kept_cs + oth["cs"]) / 100.0 - parsed["value"]) < 1.0
    # fixed keep-set semantics (r13): a keep-set member stays named even
    # in a tiny dict; a non-member ALWAYS folds to "oth" regardless of
    # speed — membership is by name, never a timing artifact.
    small = bench.compact_line({"rfm_segments": 0.315}, 0.01, 0.315, 0.08)
    sp = json.loads(small)
    assert sp["queries"] == {"rfmseg": 32} and "oth" not in sp
    other = bench.compact_line({"q1_pricing_summary": 0.315}, 0.01, 0.315, 0.08)
    op = json.loads(other)
    assert op["queries"] == {} and op["oth"] == {"n": 1, "cs": 32}


def test_bench_headline_names_all_resolve():
    """bench.py silently skips battery names missing from queries()
    (qs.get(name) -> None) — a typo would drop a query from the
    headline without any signal. Every HEADLINE name must resolve, and
    no name may repeat."""
    import bench

    import __spark_entry__ as e

    qs = e.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_bench_compact_keep_names_all_resolve():
    """compact_line skips COMPACT_KEEP names absent from a run, so a
    renamed query would silently fold into "oth". Every keep-set name must
    be a registered query that the battery times (HEADLINE), and none may
    repeat."""
    import bench

    import __spark_entry__ as e

    missing = [n for n in bench.COMPACT_KEEP if n not in e.queries()]
    assert not missing, missing
    unbenched = [n for n in bench.COMPACT_KEEP if n not in bench.HEADLINE]
    assert not unbenched, unbenched
    assert len(bench.COMPACT_KEEP) == len(set(bench.COMPACT_KEEP))


def _streaming_sites(needle):
    """{(module file, enclosing top-level function)} of the sites of
    ``needle`` in the streaming/ sources."""
    import ast
    import pathlib

    import wurzel_spark.streaming as S

    sites = set()
    for path in sorted(pathlib.Path(S.__file__).parent.glob("*.py")):
        src = path.read_text()
        for node in ast.parse(src).body:
            if needle in (ast.get_source_segment(src, node) or ""):
                sites.add((path.name, getattr(node, "name", "<module>")))
    return sites


def test_streaming_skeleton_lives_only_in_the_fold_runner():
    """The availableNow/foreachBatch drive and the crash-fold recovery are
    written once, in streaming/_state.py; a twin declares its stage, keys
    and drain instead of re-typing them. The only other sites are the
    memory-sink drive events.run_available_now and the two-state-dir
    clusters twin, which recovers both of its dirs itself."""
    assert {f for f, _ in _streaming_sites(".foreachBatch(")} == {"_state.py"}
    trigger = _streaming_sites(".trigger(availableNow=True)")
    assert {f for f, _ in trigger} == {"_state.py", "events.py"}
    assert [fn for f, fn in trigger if f == "events.py"] == ["run_available_now"]
    recover = {f for f, _ in _streaming_sites("recover_fold(")}
    assert recover == {"_state.py", "clusters.py"}
    # the row-local output twins land batch=N through write_batch_output
    assert {f for f, _ in _streaming_sites("batch={")} == {"_state.py"}


_RETIRED_GATE_NAMES = (
    "_DRIVER_UNION_FIND_MAX_EDGES",
    "PAGERANK_DRIVER_EDGE_GATE",
    "KCORE_DRIVER_EDGE_GATE",
    "_DSIR_CHECKPOINT_MAX_INPUT_BYTES",
    "_plan_size_bytes",
    "max_driver_elems",
)


def _py_files(*dirs):
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    return [p for d in dirs for p in sorted((root / d).rglob("*.py"))]


def test_size_gates_decide_only_through_common_fits():
    """Every size gate decides through operators.common.fits, called via
    the module so the test suite's gates_off fixture reaches it: no
    per-module gate limits or aliases survive, only common.py reads the
    plan-size estimate, and no module from-imports ``fits`` (a bound
    name would keep the real function under the monkeypatch)."""
    import ast
    import pathlib

    this = pathlib.Path(__file__).resolve()
    files = [p for p in _py_files("wurzel_spark", "tests") if p != this]
    retired = sorted(
        (p.name, n) for p in files for n in _RETIRED_GATE_NAMES if n in p.read_text()
    )
    assert not retired, retired
    estimators = {
        p.name for p in _py_files("wurzel_spark") if "plan_size_bytes(" in p.read_text()
    }
    assert estimators == {"common.py"}
    bound = sorted(
        p.name
        for p in files
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").endswith("common")
        and any(a.name in ("fits", "*") for a in node.names)
    )
    assert not bound, bound


def _source(path):
    """Text of a file, by its path from the repo root."""
    import pathlib

    return (pathlib.Path(__file__).resolve().parent.parent / path).read_text()


def _functions(path):
    """{top-level function name: source} of one module."""
    import ast

    src = _source(path)
    return {
        node.name: ast.get_source_segment(src, node)
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
    }


def test_fixed_driver_costs_stay_out_of_the_query_path():
    """Per-query driver work a session pays once: parallelize decides from
    the plan estimate (``.rdd`` executes the frame's exchanges under AQE),
    tables read parquet only through the schema memo (an uninferred read
    runs a footer job), and get_spark sizes the generated-code cache."""
    body = _functions("wurzel_spark/operators/common.py")["parallelize"]
    assert ".rdd" not in body and "getNumPartitions" not in body
    read = "spark.read.parquet("
    memo = _functions("wurzel_spark/tables.py")["_read_parquet"]
    assert _source("wurzel_spark/tables.py").count(read) == memo.count(read) > 0
    assert "spark.sql.codegen.cache.maxEntries" in _functions("wurzel_spark/session.py")["get_spark"]


def test_near_dup_core_is_written_once():
    """dedup.py's near-dup core has one word-hash pass, one signature
    kernel, one band join and one Jaccard verifier. The other Arrow kernel
    is strip_duplicated_spans'."""
    src = _source("wurzel_spark/operators/dedup.py")
    assert src.count("@F.pandas_udf") == 2
    assert src.count("_word_hashes(F.col(") == 1
    assert "_word_hashes(F.col(" in _functions("wurzel_spark/operators/dedup.py")["_word_hash_frame"]
    assert "common.band_pairs(" in _functions("wurzel_spark/operators/dedup.py")["lsh_candidate_pairs"]
    assert src.count('array_intersect("sh_a", "sh_b")') == 1
    assert "cast(x AS string)" not in src
    assert "minhash_signatures" not in src


def test_near_dup_driver_twin_shares_the_kernel_math():
    """The Arrow kernel and the near-dup core's driver twin compute
    signatures through one numpy family function; the twin pulls once and
    falls through only where common.fits (or the common.py helper that
    asks it) says no."""
    import ast

    path = "wurzel_spark/operators/dedup.py"
    src, fns = _source(path), _functions(path)
    for row_fn in ("_simhash_rows(", "_minhash_rows(", "_band_hashes_rows(", "_pad_hash_matrix("):
        assert src.count(row_fn) == 2 and row_fn in fns["_family_arrays"], row_fn
    assert "_family_arrays(" in fns["_signatures"]
    assert "_family_arrays(" in fns["_families_by_length"]
    twin = fns["_near_pairs_driver"]
    assert "_families_by_length(" in twin
    pulls = (".toArrow(", ".toPandas(", ".collect(", "_collect_as_arrow(")
    assert src.count(".toArrow(") == 1
    assert [twin.count(p) for p in pulls] == [1, 0, 0, 0]
    gates = []
    for node in ast.walk(ast.parse(twin)):
        if isinstance(node, ast.If) and any(
            isinstance(r, ast.Return) and ast.unparse(r) == "return None" for r in node.body
        ):
            gates.append(ast.unparse(node.test).split("(")[0])
    assert gates == ["not common.driver_input_fits", "not common.fits"], gates
    assert twin.count("return None") == 2
    helper = _functions("wurzel_spark/operators/common.py")["driver_input_fits"]
    assert "return fits(plan_size_bytes(df), DRIVER_MAX_INPUT_BYTES)" in helper


def test_ann_core_is_written_once():
    """similarity.py's ANN core has one ranker, one nearest-cell argmax,
    one PQ ADC scorer and one exact rerank. The column ``cosine`` (which
    fails on a zero vector under ANSI) stays with the three audits that
    compute it; every other scorer uses the ``cosine_pd`` kernel."""
    import ast

    path = "wurzel_spark/operators/similarity.py"
    src, fns = _source(path), _functions(path)
    sites = {
        "row_number()": "_rank",
        "max_by(": "_nearest_cell",
        'collect_list(F.struct("sub", "t"))': "_adc_scores",
        "shortlist.join(": "_adc_top_k",
    }
    for needle, fn in sites.items():
        assert src.count(needle) == 1 and needle in fns[fn], needle
    assert src.count("_sub_l2(") == 2 and "_sub_l2(" in fns["_adc_scores"]
    assert src.count("import Window") == 1
    callers = {
        name
        for name, body in fns.items()
        for node in ast.walk(ast.parse(body))
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "cosine"
    }
    assert callers == {"binary_embedding_recall", "retrieval_ndcg_eval", "ivf_nprobe_sweep"}


def test_text_primitives_are_written_once():
    """Every text operator tokenizes with TXT.words, hashes words through
    dedup._word_hashes, windows n-grams through TXT.windows and zips
    bigram pairs through TXT.bigrams: none spells its own copy."""
    import ast

    def name(node):
        f = getattr(node, "func", None)
        return getattr(f, "attr", getattr(f, "id", None)) if isinstance(node, ast.Call) else None

    def calls(node, fn):
        return any(name(c) == fn for c in ast.walk(node))

    primitives = {
        # split(trim(…), r"\s+")
        "tokenizer": lambda c: name(c) == "split" and name(c.args[0]) == "trim",
        # transform(…, lambda w: xxhash64(w))
        "word hashes": lambda c: name(c) == "transform"
        and isinstance(c.args[1], ast.Lambda)
        and name(c.args[1].body) == "xxhash64"
        and [ast.unparse(a) for a in c.args[1].body.args] == [c.args[1].args.args[0].arg],
        # transform(sequence(lit(1), …), lambda i: … slice(…) …)
        "window": lambda c: name(c) == "transform"
        and name(c.args[0]) == "sequence"
        and ast.unparse(c.args[0].args[0]) == "F.lit(1)"
        and calls(c.args[1], "slice"),
        # arrays_zip(slice(…), slice(…))
        "bigrams": lambda c: name(c) == "arrays_zip" and calls(c, "slice"),
    }
    sites = {k: [] for k in primitives}
    for p in _py_files("wurzel_spark"):
        for top in ast.parse(p.read_text()).body:
            for c in ast.walk(top):
                for k, is_site in primitives.items():
                    if name(c) and len(c.args) >= 2 and is_site(c):
                        sites[k].append(f"{p.name}:{getattr(top, 'name', '<module>')}")
    assert sites == {
        "tokenizer": ["text.py:words"],
        "word hashes": ["dedup.py:_word_hashes"],
        "window": ["text.py:windows"],
        "bigrams": ["text.py:bigrams"],
    }


def _package_sites(is_site):
    """{(module file, top-level name)} of the top-level definitions of
    wurzel_spark whose source ``is_site`` accepts (a function or class
    name, or an assigned module constant's)."""
    import ast

    sites = set()
    for p in _py_files("wurzel_spark"):
        src = p.read_text()
        for node in ast.parse(src).body:
            seg = ast.get_source_segment(src, node) or ""
            if is_site(node, seg):
                name = getattr(node, "name", None) or ast.unparse(getattr(node, "targets", [node])[0])
                sites.add((p.name, name))
    return sites


def test_pair_joins_are_written_once():
    """Every pair operator bands through common.band_pairs and counts set
    overlaps through dedup._overlap_pairs: the first-shared-band rule, the
    band posexplode, the per-pair overlap count and the df-cap anti-join
    have one site each, and the capped-pairs oracle CTE is written once."""
    import ast
    import re

    def has(needle):
        return lambda node, seg: needle in seg

    def overlap_count(node, seg):
        # F.count(…).alias("n_inter" | "n_shared")
        return any(
            isinstance(c, ast.Call)
            and getattr(c.func, "attr", None) == "alias"
            and [ast.unparse(a) for a in c.args] in (["'n_inter'"], ["'n_shared'"])
            and isinstance(c.func.value, ast.Call)
            and getattr(c.func.value.func, "attr", None) == "count"
            for c in ast.walk(node)
        )

    def band_explode(node, seg):
        return any("posexplode(" in line and "band" in line for line in seg.splitlines())

    band_join = {("common.py", "band_pairs")}
    assert _package_sites(has("array_position(")) == band_join
    assert _package_sites(band_explode) == band_join
    # source_overlap_matrix counts shared grams per ordered SOURCE pair
    assert _package_sites(overlap_count) == {
        ("dedup.py", "_overlap_pairs"),
        ("textstats.py", "source_overlap_matrix"),
    }
    assert _package_sites(has("> max_df")) == {("dedup.py", "_cap_df")}
    capped_pairs = re.compile(r"_CAPPED_SHINGLES_CTE\}\s*,\s*pairs AS \(")
    assert _package_sites(lambda node, seg: bool(capped_pairs.search(seg))) == {
        ("dedup.py", "_CAPPED_PAIRS_CTE")
    }
    assert {f for f, _ in _package_sites(has("_CAPPED_SHINGLES_CTE"))} == {"dedup.py"}


def test_pipeline_layer_is_written_once():
    """``Pipeline.run`` and the manifest run through one step runner: one
    step loop (``manifest._run_graph``), one chain call with the one
    materialize write (``manifest._run_step``), one sorted persist
    (``manifest.save_sorted``), one report class built in one place (the
    prometheus middleware), one cycle DFS, one YAML parse and one lazy
    HTTP session."""
    import ast

    segs = {}  # (module, top-level name) -> source
    for f in ("stage.py", "manifest.py", "middleware.py", "cli.py", "metrics.py"):
        src = _source(f"wurzel_spark/{f}")
        for node in ast.parse(src).body:
            if hasattr(node, "name"):
                segs[(f, node.name)] = ast.get_source_segment(src, node)

    def sites(needle):
        return {k for k, seg in segs.items() if needle in seg}

    for needle in (".write", ".parquet(", ".count(", "StageReport(", "perf_counter", "chain.execute("):
        assert needle not in segs[("stage.py", "Pipeline")], needle
    # the one step loop, over the graph's topological order
    assert sites("in manifest.topo_order():") == {("manifest.py", "_run_graph")}
    assert sites("chain.execute(") == {("manifest.py", "_run_step")}
    assert sites(".write.mode(") == {("manifest.py", "_run_step"), ("manifest.py", "save_sorted")}
    assert sites("orderBy(") == {("manifest.py", "save_sorted")}
    sorted_write = re.compile(r"orderBy\([^()]*(\([^()]*\))?[^()]*\)\.write")
    assert [p.name for p in _py_files("wurzel_spark") if sorted_write.search(p.read_text())] == [
        "manifest.py"
    ]
    assert sites("StageReport(") == {("middleware.py", "prometheus")}
    assert {k for k in segs if "Report" in k[1]} == {("metrics.py", "StageReport")}
    assert "class " not in segs[("middleware.py", "prometheus")]
    assert sites("GRAY") == {("manifest.py", "ManifestValidator")}
    assert sites("safe_load(") == {("manifest.py", "Manifest")}
    assert _source("wurzel_spark/sinks/http_backends.py").count("def _session(") == 1
