"""Guard on the test-only public surface (ROADMAP aim 2).

Every top-level public function or class of ``go_log_forwarder_spark/``
(except ``oracle.py``, the tests' reference implementation) must be named
by some non-test file — the package itself, ``__spark_entry__.py``,
``bench*.py``, ``scripts/`` or non-test ``perfbench/`` — or be listed in
``ALLOWED`` with the reason it stays. A listed name that gains a non-test
caller, or is deleted, fails too, so the list stays tight.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "go_log_forwarder_spark"

# "<module path under the package>::<name>" -> why it stays with no
# non-test caller: a COVERAGE.md row, a reference capability, or safety code
ALLOWED = {
    "functions/dedup.py::jaccard_pairs": "COVERAGE 'n-gram Jaccard': the exact all-pairs verifier",
    "functions/dedup.py::lsh_index_compact": "index maintenance: folds per-batch LSH snapshots into one",
    "functions/dedup.py::token_shingle_positions": "positional form of token_shingle_counts, its parity reference",
    "functions/enrich.py::merge_static_fields": "COVERAGE E1: static field enrichment (util.go:47-50)",
    "functions/multimodal.py::resize_images": "COVERAGE 'multimodal columns'",
    "functions/sampling.py::deterministic_sample": "COVERAGE 'deterministic sampling / data mixing'",
    "functions/sampling.py::quota_sample": "COVERAGE 'deterministic sampling / data mixing'",
    "functions/similarity.py::all_pairs_cosine_micro": "COVERAGE 'all-pairs cosine kernel'",
    "functions/similarity.py::ivf_topk": "COVERAGE 'ANN IVF'",
    "functions/similarity.py::ivf_topk_sql": "COVERAGE 'ANN IVF': the DuckDB oracle text for ivf_topk",
    "functions/similarity.py::mean_pool": "COVERAGE 'embedding normalize / mean-pool'",
    "functions/similarity.py::normalize_vectors": "COVERAGE 'embedding normalize / mean-pool'",
    "functions/sketch.py::hll_estimate": "driver-side reader of the HLL register sketch",
    "operators/compaction.py::compact_parquet_dir": "COVERAGE 'output compaction'",
    "operators/compaction.py::recover_compaction": "safety code: crash recovery for compact_parquet_dir's rename window",
    "operators/live_sinks.py::gelf_tcp_sink": "COVERAGE K4: live gelf sink",
    "operators/live_sinks.py::splunk_hec_sink": "COVERAGE K3: live splunk HEC sink",
    "operators/partitioning.py::write_bucketed": "COVERAGE 'bucketed co-located joins'",
    "plans/config.py::register_filter": "COVERAGE 'registry switch': user plugins",
    "plans/config.py::register_parser": "COVERAGE 'registry switch': user plugins",
    "sources/http.py::processed_lines_response": "reference capability: http input's processed-lines reply (http.go:134-149)",
    "sources/tail.py::tail_batch_resumable": "COVERAGE S1: live-tail exactly-once over growing files",
    "sources/tail.py::tail_stream": "COVERAGE S1: tail input as a file-source stream",
    "sources/tcp.py::tcp_stream": "COVERAGE S5: tcp input's live socket stream",
    "streaming/pipeline.py::incremental_ann_batch_fn": "streaming maintenance of the persisted ANN index",
    "streaming/pipeline.py::incremental_lsh_batch_fn": "streaming maintenance of the persisted LSH index",
    "streaming/pipeline.py::incremental_span_batch_fn": "streaming maintenance of the persisted span index",
    "streaming/pipeline.py::run_incremental_dedup_stream": "starts the index-maintenance streams above",
    "streaming/pipeline.py::stream_dedup": "COVERAGE 'streaming dedup (bounded state)'",
    "streaming/pipeline.py::windowed_counts": "COVERAGE 'windows/watermarks'",
    "streaming/stateful.py::running_counter": "COVERAGE 'running counter state' (counter.go)",
}


def _non_test_files():
    yield from PKG.rglob("*.py")
    yield ROOT / "__spark_entry__.py"
    yield from ROOT.glob("bench*.py")
    yield from (ROOT / "scripts").rglob("*.py")
    for p in (ROOT / "perfbench").rglob("*.py"):
        if not p.name.startswith("test_") and p.name != "conftest.py":
            yield p


def _referenced() -> set[str]:
    """Every identifier a non-test file names (loads, attributes, imports);
    a def statement itself names nothing."""
    names = set()
    for f in _non_test_files():
        for n in ast.walk(ast.parse(f.read_text())):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                names.add(n.name.rpartition(".")[2])
    return names


def _public_defs() -> dict[str, str]:
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    out = {}
    for f in sorted(PKG.rglob("*.py")):
        if f.name == "oracle.py":
            continue
        for n in ast.parse(f.read_text()).body:
            if isinstance(n, defs) and not n.name.startswith("_"):
                out[f"{f.relative_to(PKG).as_posix()}::{n.name}"] = n.name
    return out


def test_every_public_def_has_a_caller_or_a_reason():
    refs = _referenced()
    orphans = [q for q, name in _public_defs().items() if name not in refs and q not in ALLOWED]
    assert not orphans, f"public defs only tests reach; give a caller, a reason or delete: {orphans}"


def test_allowlist_is_tight():
    refs, defs = _referenced(), _public_defs()
    stale = [q for q in ALLOWED if q not in defs or defs[q] in refs]
    assert not stale, f"allowlisted names that are gone or now have a caller: {stale}"
