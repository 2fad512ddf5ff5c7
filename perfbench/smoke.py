"""Smoke test of the benchmark itself, at tiny sizes, in one process.

    python3 perfbench/smoke.py

Checks that
  1. every end-to-end and per-layer metric is emitted with its unit:
     the summary line carries exactly BENCHMARK.json's metrics, and the
     detail line every metric the workload exercises;
  2. spans nest, and the self times the tracer emits are non-negative,
     match a sweep over the span timeline, and add up to the duration
     of their root span (per span and as `*.self_s` layer metrics);
  3. a deliberately wrong expected answer drives failed_op_share above 0.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import run as bench  # noqa: E402
from perfbench import workloads  # noqa: E402

TINY = {
    "ingest_heavy": {"pages_per_op": 6},
    "query_mix": {"base_pages": 40, "vocab_size": 150},
}

E2E = {
    "ingest_heavy": ["setup_s", "docs_per_s", "op_p50_ms", "peak_rss_mb",
                     "triple_precision", "triple_recall", "failed_op_share"],
    "query_mix": ["setup_s", "docs_per_s", "op_p50_ms", "search_p50_ms",
                  "khop_p50_ms", "peak_rss_mb", "failed_op_share"],
}


def _expand(prefixes: list[str], suffixes: list[str]) -> list[str]:
    return [f"{p}.{s}" for p in prefixes for s in suffixes]


S1_S4 = _expand(
    [f"stages.{s}" for s in ("extract_text", "chunk", "embed", "extract")],
    ["wall_s", "python_s", "python_boot_s", "python_init_s", "arrow_sent_mb",
     "arrow_recv_mb", "jvm_cpu_s", "rows_out"],
)
BOTH = [
    *S1_S4, "textops.kernels.wall_s", "stages.s1_s4.kernel_share",
    *_expand(["query.build_inverted_index"], ["wall_s", "shuffle_write_mb", "spill_mb", "rows_out"]),
    *_expand(["linking.similarity_edges"], ["wall_s", "rows_out"]),
    *_expand(["cc.connected_components"], ["wall_s", "rounds", "jump_broadcast_rounds", "jobs"]),
    *_expand(["stages.dedup_nodes", "stages.materialize_edges"], ["wall_s", "shuffle_write_mb", "rows_out"]),
    "session.get_spark.wall_s", "trace.overhead_s", "trace.overhead_share",
]
LAYERS = {
    "ingest_heavy": [*BOTH, "pipeline.build_kg_frames.wall_s", "pipeline.build_kg_frames.self_s"],
    "query_mix": [
        *BOTH,
        *[f"io.commit.{t}.wall_s" for t in (
            "pages", "docs", "chunks", "embeddings", "inverted_index",
            "extracted", "canonical", "kg_nodes", "kg_edges", "_lineage")],
        "io.commit.bytes_mb", "io.read_accumulated.wall_s",
        "pipeline.run.wall_s", "pipeline.run.self_s",
        *_expand(["query.graphrag_search", "query.related_entities"], ["wall_s", "jobs"]),
        *[f"query.{f}.wall_s" for f in (
            "vector_topk", "keyword_scores_from_index", "fuse", "entities_from_chunks")],
    ],
}


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_units(block: dict, names: list[str], where: str) -> None:
    missing = [n for n in names if n not in block]
    check(not missing, f"{where}: every metric present {missing or ''}")
    bad = [n for n in names if n in block and not block[n]["unit"]]
    check(not bad, f"{where}: every metric has a unit {bad or ''}")


def exclusive_times(spans: list[dict]) -> list[float]:
    """Time during which each span is the innermost open one, from the
    start and end times alone (the parent links are not used)."""
    events = sorted(
        [(s["start"], 1, -s["end"], i) for i, s in enumerate(spans)]
        + [(s["end"], 0, -s["start"], i) for i, s in enumerate(spans)]
    )
    excl = [0.0] * len(spans)
    stack: list[int] = []
    crossed: list[str] = []
    last = None
    for t, is_start, _, i in events:
        if stack:
            excl[stack[-1]] += t - last
        last = t
        if is_start:
            stack.append(i)
        else:
            if stack[-1] != i:
                crossed.append(spans[i]["name"])
            stack.remove(i)
    check(not crossed, f"no span ends while a later one is open {crossed[:5] or ''}")
    return excl


def check_spans(path: Path, layers: dict) -> None:
    spans = json.loads(path.read_text())
    outside = [
        s["name"] for i, s in enumerate(spans)
        if s["parent"] is not None and not (
            s["parent"] < i
            and spans[s["parent"]]["start"] <= s["start"] <= s["end"] <= spans[s["parent"]]["end"]
        )
    ]
    check(not outside, f"{len(spans)} spans nest inside their parents {outside[:5] or ''}")
    emitted = [s["self_s"] for s in spans]
    check(min(emitted) >= 0.0, "self times are non-negative")
    off = [
        s["name"] for s, want in zip(spans, exclusive_times(spans))
        if abs(s["self_s"] - want) > 1e-6
    ]
    check(not off, f"self times match a sweep over the timeline {off[:5] or ''}")
    root_of: list[int] = []
    for i, s in enumerate(spans):
        root_of.append(i if s["parent"] is None else root_of[s["parent"]])
    off = [
        s["name"] for r, s in enumerate(spans) if s["parent"] is None and abs(
            sum(t for t, ro in zip(emitted, root_of) if ro == r) - (s["end"] - s["start"])
        ) > 1e-6
    ]
    check(not off, f"self times add up to each root span {off or ''}")
    roots = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    layer_self = sum(v["value"] for k, v in layers.items() if k.endswith(".self_s"))
    check(abs(layer_self - roots) < 1e-6,
          f"emitted self_s metrics add up to the root spans ({layer_self:.6f} s)")
    check(len({s["run_id"] for s in spans}) == 1, "spans share one run id")


def main() -> None:
    declared = {k: {m["name"]: m["unit"] for m in bench.BENCH[k]} for k in ("end_to_end", "per_layer")}
    for name in workloads.WORKLOADS:
        for traced in (False, True):
            detail, summary = bench.run(name, 7, 0, traced, sizes=TINY[name])
            where = f"{name} trace={int(traced)}"
            check(summary["correct"] and summary["failed"] == 0, f"{where}: outputs correct")
            units = {k: v["unit"] for k, v in summary["metrics"].items()}
            check(units == declared["per_layer" if traced else "end_to_end"],
                  f"{where}: summary carries BENCHMARK.json's metrics and units")
            check_units(detail["end_to_end"], E2E[name], f"{where} end-to-end")
            if traced:
                check_units(detail["layers"], LAYERS[name], f"{where} layers")
                check_spans(bench.ROOT / ".bench_work" / f"spans-{name}-7.json", detail["layers"])

    # a wrong expected answer must count as a failed op
    real_build_kg = workloads.oracle.build_kg

    def wrong_build_kg(pages, *a, **kw):
        out = real_build_kg(pages, *a, **kw)
        out["triples"] = out["triples"] | {("Nobody", "SUES", "Nothing")}
        return out

    workloads.oracle.build_kg = wrong_build_kg
    try:
        detail, summary = bench.run("ingest_heavy", 7, 0, False, sizes=TINY["ingest_heavy"])
    finally:
        workloads.oracle.build_kg = real_build_kg
    share = detail["end_to_end"]["failed_op_share"]["value"]
    check(share > 0 and not summary["correct"], f"ingest_heavy: wrong oracle gives failed_op_share {share}")

    real_hits = workloads.QueryMix.expected_hits
    workloads.QueryMix.expected_hits = (
        lambda self, text: real_hits(self, text) + [("nowhere#chunk0", 1.0)]
    )
    try:
        detail, summary = bench.run("query_mix", 7, 0, False, sizes=TINY["query_mix"])
    finally:
        workloads.QueryMix.expected_hits = real_hits
    share = detail["end_to_end"]["failed_op_share"]["value"]
    check(share > 0 and not summary["correct"], f"query_mix: wrong expected hits give failed_op_share {share}")
    bench.stop_jvm()
    print("smoke test passed")


if __name__ == "__main__":
    main()
