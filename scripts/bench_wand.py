"""Multi-term block-max WAND pruning benchmark on a ≥2M-doc index.

Measures the block-max pruned top-k path (wand.SegmentQueryKernel.run)
against the exhaustive path (eval + topk) for the reference query
shapes, kernel-level (both sides share the same pyarrow-pruned block
scan), plus decoded-block counts from a decode spy. Appends a marked
section to BENCH.md and writes BENCH_WAND.json.

Corpus: sf0.1 documents deterministically replicated (bench_scaling's
make_corpus) — replicas of one source doc are doc-id-contiguous, so
block upper bounds inherit the corpus's tf/dl variance and pruning has
real structure to exploit (as on natural data).

Usage: python scripts/bench_wand.py [--mult 400] [--k 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

QUERIES = [
    ("q_head_term", "table"),
    ("q_and2", "spark merge"),
    ("q_and3", "table row fast"),
    ("q_or", "spark OR stream"),
    ("q_or3", "spark OR stream OR vector"),
    ("q_not", "(table OR merge) -slow"),
    ("q_phrase", '"spark fast"'),
    ("q_prefix", "s*"),          # TermRange root → one-group pruner call
    ("q_prefix_and", "s* table"),  # range as an AND child
    ("q_prefix_or", "s* OR table"),  # range as an OR child
    # phrase inside an OR inside an AND → disjunct groups (round 3)
    ("q_phrase_or", '(merge OR "spark fast") table'),
]

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=400)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--multifield", action="store_true",
                    help="also bench the BM25F pruned top-k (builds a "
                         "2-field index variant)")
    args = ap.parse_args()

    from bench_scaling import make_corpus

    from groonga_spark.build import build_index, index_is_current
    from groonga_spark.ql import parse_query
    from groonga_spark.search import FulltextIndex
    from groonga_spark.session import get_spark
    from groonga_spark.wand import SegmentQueryKernel, _topk

    corpus, n_docs = make_corpus("/root/testdata/sf0.1", args.mult)
    idx_path = os.path.join(tempfile.gettempdir(),
                            f"gs_wand_idx_{args.mult}")
    # value-based staleness (engine contract + corpus size), never a
    # key-presence sniff — a /tmp index from an older engine version
    # must rebuild, not get benchmarked
    stale = not index_is_current(idx_path, n_docs=n_docs)

    spark = get_spark("bench_wand", master="local[8]", shuffle_partitions=32)
    if stale:
        import shutil

        shutil.rmtree(idx_path, ignore_errors=True)
        docs = spark.read.parquet(corpus)
        t0 = time.time()
        build_index(spark, docs, idx_path, mode="delimit", resume=False)
        print(f"built {n_docs} docs in {time.time()-t0:.1f}s",
              file=sys.stderr)
    idx = FulltextIndex(spark, idx_path)

    results = {}
    for name, q in QUERIES:
        ast = idx._expand_ast(parse_query(q))
        plan = idx._plan(ast)
        pdf = idx._local_blocks(plan["needed_tids"], plan, force=True)
        stats = idx._stats()

        def kernel():
            return SegmentQueryKernel(pdf, plan, stats, args.k)

        from benchlib import spy_decodes

        # warm + rank-identity safety check
        (pr_doc, pr_sco), blk_pruned = spy_decodes(lambda: kernel().run(ast))
        (ex_d, ex_s), blk_exh = spy_decodes(
            lambda: _topk(*kernel().eval(ast), args.k)
        )
        assert (pr_doc == ex_d).all() and (pr_sco == ex_s).all(), name

        t_pruned = min(
            _time(lambda: kernel().run(ast)) for _ in range(args.repeat)
        )
        t_exh = min(
            _time(lambda: _topk(*kernel().eval(ast), args.k))
            for _ in range(args.repeat)
        )
        results[name] = {
            "query": q,
            "pruned_s": round(t_pruned, 4),
            "exhaustive_s": round(t_exh, 4),
            "speedup": round(t_exh / t_pruned, 2) if t_pruned else None,
            "blocks_pruned_path": blk_pruned,
            "blocks_exhaustive": blk_exh,
            "blocks_skipped_pct": round(
                100.0 * (1 - blk_pruned / blk_exh), 1
            ) if blk_exh else 0.0,
        }
        print(f"{name}: pruned {t_pruned:.4f}s vs exhaustive {t_exh:.4f}s "
              f"({results[name]['speedup']}x), blocks {blk_pruned}/{blk_exh}",
              file=sys.stderr)

    out = {"n_docs": n_docs, "k": args.k, "host": _host(),
           "queries": results}
    if args.multifield:
        out["multifield"] = _bench_multifield(spark, corpus, args)
    with open(os.path.join(REPO, "BENCH_WAND.json"), "w") as f:
        json.dump(out, f, indent=1)
    _append_bench_md(out)
    print(json.dumps(out))
    spark.stop()


def _bench_multifield(spark, corpus: str, args) -> dict:
    """BM25F top-k through the one query route's driver leg
    (search.run_query): pruned = MultiFieldIndex._scope planning + the
    fields' pruned block fetch + the kernel's run; exhaustive = the same
    plan and block frame through the kernel's eval + top-k (what the
    route runs for shapes the pruner cannot add in the exhaustive float
    order). Both return (doc, score) arrays."""
    from groonga_spark.build import index_is_current
    from groonga_spark.multifield import (
        MultiFieldIndex,
        build_multifield_index,
    )
    from groonga_spark.ql import parse_query
    from groonga_spark.search import _driver_blocks
    from groonga_spark.wand import SegmentQueryKernel, _topk

    mf_path = os.path.join(tempfile.gettempdir(), f"gs_wand_mf_{args.mult}")
    # stale unless the manifest exists AND every field index matches the
    # current engine contract by value (not a file-presence sniff)
    mf_ok = os.path.exists(os.path.join(mf_path, "multifield.json")) and all(
        index_is_current(os.path.join(mf_path, "fields", f))
        for f in ("title", "body")
    )
    if not mf_ok:
        import shutil

        shutil.rmtree(mf_path, ignore_errors=True)
        docs = spark.read.parquet(corpus)
        two = docs.selectExpr(
            "doc_id",
            "concat_ws(' ', slice(split(text, ' '), 1, 3)) as title",
            "concat_ws(' ', slice(split(text, ' '), 4, 1000000)) as body",
        )
        t0 = time.time()
        build_multifield_index(spark, two, mf_path, ["title", "body"],
                               mode="delimit")
        print(f"built 2-field index in {time.time()-t0:.1f}s",
              file=sys.stderr)
    mf = MultiFieldIndex(spark, mf_path)

    from benchlib import spy_decodes

    results = {}
    shapes = [
        ("mf_head", "table", "title*10||body"),
        ("mf_and2", "spark merge", "title*10||body"),
        ("mf_or", "spark OR stream", "title||body"),
        ("mf_not", "table -slow", "title*10||body"),
    ]
    for name, q, mc in shapes:
        ast = parse_query(q)
        cols = mf._cols(mc)

        def kernel():
            scoped, parts, plan = mf._scope(ast, cols)
            return scoped, SegmentQueryKernel(
                _driver_blocks(parts), plan, plan["fields"][0][1], args.k)

        scoped, kern = kernel()
        assert kern._pruned_multi(scoped) is not None, name  # pruner takes it

        def pruned_topk():
            scoped, kern = kernel()
            return kern.run(scoped)

        def exhaustive():
            scoped, kern = kernel()
            return _topk(*kern.eval(scoped), args.k)

        pruned, blk_pruned = spy_decodes(pruned_topk)
        exh, blk_exh = spy_decodes(exhaustive)
        assert pruned[0].tolist() == exh[0].tolist(), name
        assert pruned[1].tolist() == exh[1].tolist(), name

        t_pruned = min(_time(pruned_topk) for _ in range(args.repeat))
        t_exh = min(_time(exhaustive) for _ in range(args.repeat))
        results[name] = {
            "query": q,
            "match_columns": mc,
            "pruned_s": round(t_pruned, 4),
            "exhaustive_s": round(t_exh, 4),
            "speedup": round(t_exh / t_pruned, 2) if t_pruned else None,
            "blocks_pruned_path": blk_pruned,
            "blocks_exhaustive": blk_exh,
            "blocks_skipped_pct": round(
                100.0 * (1 - blk_pruned / blk_exh), 1
            ) if blk_exh else 0.0,
        }
        print(f"{name}: pruned {t_pruned:.4f}s vs exhaustive {t_exh:.4f}s "
              f"({results[name]['speedup']}x), blocks {blk_pruned}/{blk_exh}",
              file=sys.stderr)
    return results


def _host() -> dict:
    """The machine the timings came from: a kernel timing is only
    comparable to one taken on the same CPU model and count."""
    import platform

    model = platform.machine()
    try:
        with open("/proc/cpuinfo") as f:
            model = next((ln.split(":", 1)[1].strip() for ln in f
                          if ln.startswith("model name")), model)
    except OSError:  # no /proc (not Linux): the architecture only
        pass
    return {"cpus": os.cpu_count(), "cpu_model": model}


def _time(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _append_bench_md(out: dict) -> None:
    lines = [
        "",
        "## Multi-term block-max WAND pruning "
        f"({out['n_docs']:,}-doc index, k={out['k']})",
        "",
        "Kernel-level timing (both paths share the same pyarrow-pruned",
        "block scan), best-of-3; results asserted bit-identical first.",
        f"Host: {out['host']['cpus']} CPUs, {out['host']['cpu_model']}.",
        "",
        "| query | pruned s | exhaustive s | speedup | blocks decoded |"
        " skipped |",
        "|---|---|---|---|---|---|",
    ]
    for name, r in out["queries"].items():
        lines.append(
            f"| {name} (`{r['query']}`) | {r['pruned_s']} |"
            f" {r['exhaustive_s']} | {r['speedup']}× |"
            f" {r['blocks_pruned_path']}/{r['blocks_exhaustive']} |"
            f" {r['blocks_skipped_pct']}% |"
        )
    if out.get("multifield"):
        lines += [
            "",
            "### BM25F multi-field pruned top-k (same corpus, "
            "title/body split)",
            "",
            "Both columns run the one query route's driver leg (planning",
            "and the fields' pruned block fetch included): pruned = the",
            "kernel's interval-pruned run with per-field stats/weights;",
            "exhaustive = the same frame through the kernel's eval + top-k.",
            "Results asserted bit-identical first.",
            "",
            "| query | pruned s | exhaustive s | speedup | blocks decoded |"
            " skipped |",
            "|---|---|---|---|---|---|",
        ]
        for name, r in out["multifield"].items():
            lines.append(
                f"| {name} (`{r['query']}` @ `{r['match_columns']}`) |"
                f" {r['pruned_s']} | {r['exhaustive_s']} | {r['speedup']}× |"
                f" {r['blocks_pruned_path']}/{r['blocks_exhaustive']} |"
                f" {r['blocks_skipped_pct']}% |"
            )
    from benchlib import splice_marked_section

    splice_marked_section("bench_wand", lines)


if __name__ == "__main__":
    main()
