"""Driver-window rotation invariants (r7 verdict ask #3): the freshness
window must be COMPUTED from the union of CORRECTNESS_r{N}.json files, not
hand-maintained — these tests recompute the cohorts from the files and
assert the committed window covers them.

Also asserts the bench billing order keeps every shared-artifact producer
ahead of its consumers (the reason bench order is now decoupled from the
correctness window).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

from aci_export_spark import harness

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver contract: the driver checks the FIRST this-many queries()
WINDOW_SIZE = 50


def _newest_rounds(up_to: int) -> dict[str, int]:
    """name -> newest CORRECTNESS round containing a result row for it,
    over rounds 1..up_to (the data the committed window was built from)."""
    newest: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        r = int(os.path.basename(p).split("_r")[1].split(".")[0])
        if r > up_to:
            continue
        with open(p) as f:
            data = json.load(f)
        for k, v in data.items():
            if isinstance(v, dict):
                newest[k] = max(newest.get(k, 0), r)
    return newest


def test_window_names_registered_unique_and_sized():
    harness._ensure_all_registered()
    w = harness.DRIVER_WINDOW_PRIORITY
    missing = [n for n in w if n not in harness.REGISTRY]
    assert not missing, f"window names not in registry: {missing}"
    assert len(set(w)) == len(w), "duplicate names in window"
    assert len(w) == WINDOW_SIZE, (
        f"window holds {len(w)} names; the driver checks exactly "
        f"{WINDOW_SIZE} — a short window wastes slots, a long one silently "
        "drops its tail"
    )
    assert w[0] == "flagship_scoped_members", "flagship is the entry() smoke"


def test_never_checked_queries_are_inside_the_window():
    """Every registered query with NO driver row yet must be in the first
    WINDOW_SIZE of queries() — otherwise it ships without the driver's
    correctness gate ever seeing it."""
    harness._ensure_all_registered()
    newest = _newest_rounds(harness.WINDOW_BUILT_FROM_ROUND)
    window = set(harness._ordered_names()[:WINDOW_SIZE])
    unchecked = [n for n in harness.REGISTRY if n not in newest]
    outside = [n for n in unchecked if n not in window]
    assert not outside, f"never-driver-checked queries outside window: {outside}"


def test_window_covers_oldest_freshness_cohort():
    """The oldest newest-round cohort must be fully inside the window, minus
    the explicitly documented deferral set (which must itself be drawn from
    that cohort — deferring a fresh query would be a bookkeeping bug)."""
    harness._ensure_all_registered()
    newest = _newest_rounds(harness.WINDOW_BUILT_FROM_ROUND)
    assert newest, "no CORRECTNESS files found"
    oldest_round = min(newest.values())
    cohort = {n for n, r in newest.items() if r == oldest_round and n in harness.REGISTRY}
    window = set(harness._ordered_names()[:WINDOW_SIZE])
    assert harness.WINDOW_DEFERRED <= cohort, (
        "WINDOW_DEFERRED contains names not in the oldest cohort: "
        f"{sorted(harness.WINDOW_DEFERRED - cohort)}"
    )
    stale_outside = cohort - window - harness.WINDOW_DEFERRED
    assert not stale_outside, (
        f"oldest-cohort (r{oldest_round}) queries neither in the window nor "
        f"documented as deferred: {sorted(stale_outside)}"
    )


def test_window_built_from_round_is_current():
    """If CORRECTNESS files newer than WINDOW_BUILT_FROM_ROUND+1 exist, the
    window is two rounds stale — rebuild it (see the ROUND-N NOTE above
    DRIVER_WINDOW_PRIORITY) and bump WINDOW_BUILT_FROM_ROUND."""
    rounds = [
        int(os.path.basename(p).split("_r")[1].split(".")[0])
        for p in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))
    ]
    assert max(rounds) <= harness.WINDOW_BUILT_FROM_ROUND + 1, (
        f"newest CORRECTNESS round r{max(rounds)} postdates the window's "
        f"build input r{harness.WINDOW_BUILT_FROM_ROUND} by more than one "
        "round: recompute DRIVER_WINDOW_PRIORITY from the file union"
    )


def test_bench_order_bills_artifact_producers_first():
    """Shared-artifact producers must precede every consumer in the bench
    execution order, or per-query numbers bill a build to the wrong owner.
    (Registration order alone violates this: llm_dedup_clusters registers
    before the pair producers.)"""
    order = harness._bench_ordered_names()
    pos = {n: i for i, n in enumerate(order)}
    producer_consumers = {
        # pair artifacts (minhash / simhash60 / prefix-filter n-gram)
        "llm_dedup_minhash_lsh": [
            "llm_dedup_clusters", "llm_dedup_cluster_canonical",
            "llm_dedup_method_agreement", "llm_dedup_lsh_recall_audit",
        ],
        "llm_dedup_simhash_pairs": [
            "llm_dedup_clusters", "llm_dedup_method_agreement",
        ],
        "llm_dedup_ngram_jaccard": [
            "llm_dedup_clusters", "llm_dedup_method_agreement",
        ],
        # BPE training artifacts
        "llm_bpe_train": ["llm_bpe_encode_stats", "llm_bpe_fertility_by_lang"],
        "llm_bpe_train_batched": ["llm_bpe_encode_stats_batched"],
        # FastSS deletion-neighborhood pair table
        "er_fuzzy_name_pairs": ["er_fuzzy_entities"],
        # verified duplicated word-8-gram table
        "llm_dedup_exact_ngrams": [
            "llm_dedup_span_exposure", "llm_curation_kept_corpus_v3",
            "llm_dedup_span_coverage", "llm_dedup_span_removal",
        ],
        # kmeans model fit (per-process cache)
        "llm_sim_ivf_kmeans_topk": ["llm_dedup_semantic"],
        # shared winnowing selection
        "llm_winnow_fingerprints": ["llm_winnow_overlap_pairs", "llm_winnow_containment"],
        # shared trained unigram vocabulary (r10)
        "llm_unigram_tokenizer_train": ["llm_unigram_fertility_by_lang"],
    }
    bad = [
        (p, c)
        for p, cs in producer_consumers.items()
        for c in cs
        if p in pos and c in pos and pos[p] > pos[c]
    ]
    assert not bad, f"consumers billed before their producers: {bad}"


def _bench_order_in_fresh_process(*first_imports: str) -> list[str]:
    """`_bench_ordered_names()` in a new interpreter that imports
    `first_imports` before the harness."""
    script = "; ".join(
        ["import importlib, json"]
        + [f"importlib.import_module({m!r})" for m in first_imports]
        + ["from aci_export_spark import harness",
           "print(json.dumps(harness._bench_ordered_names()))"]
    )
    done = subprocess.run([sys.executable, "-c", script], cwd=_ROOT,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_bench_order_does_not_depend_on_import_order():
    """A process that imports harness_analytics before harness_llm (as a
    test of the analytics operators does) registers the fuzzy-ER producer
    after its consumer; the bench order must still be the default one."""
    default = _bench_order_in_fresh_process()
    analytics_first = _bench_order_in_fresh_process(
        "aci_export_spark.harness_analytics", "aci_export_spark.harness_llm"
    )
    assert analytics_first == default


def test_driver_window_bills_artifact_producers_first():
    """The driver correctness sweep executes in window order, so shared-
    artifact producers must precede their consumers THERE too — otherwise
    per-query driver timings bill a build to whichever consumer runs
    first (r9 review finding: three dup-gram consumers sat ahead of
    llm_dedup_exact_ngrams)."""
    pos = {n: i for i, n in enumerate(harness.DRIVER_WINDOW_PRIORITY)}
    producer_consumers = {
        "llm_dedup_exact_ngrams": [
            "llm_dedup_span_exposure", "llm_dedup_span_coverage",
            "llm_dedup_span_removal", "llm_curation_kept_corpus_v3",
        ],
        "llm_sim_ivf_kmeans_topk": ["llm_dedup_semantic"],
        "er_fuzzy_name_pairs": ["er_fuzzy_entities"],
        "llm_winnow_fingerprints": ["llm_winnow_overlap_pairs", "llm_winnow_containment"],
        "llm_dedup_minhash_lsh": [
            "llm_dedup_clusters", "llm_dedup_cluster_canonical",
            "llm_dedup_method_agreement", "llm_dedup_lsh_recall_audit",
        ],
        "llm_unigram_tokenizer_train": ["llm_unigram_fertility_by_lang"],
    }
    bad = [
        (p, c)
        for p, cs in producer_consumers.items()
        for c in cs
        if p in pos and c in pos and pos[p] > pos[c]
    ]
    assert not bad, f"window bills consumers before producers: {bad}"
