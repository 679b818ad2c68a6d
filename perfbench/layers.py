"""Metrics from the raw record that PerfMain writes.

End-to-end metrics come from every timed op.  Per-layer metrics come from
the traced ops of a `--trace 1` run, in two ways:

- the op's own jobs, each charged to the graft package its Spark call site
  names (`core` = Tables schema inference, `seq` = eager checkpoints, `io` =
  sinks and read-back, ...), give job counts and the cost of jobs launched
  while a DataFrame is being built;
- the layer prefixes materialized after the op (core scan, etl, feature
  columns, champion kernel, post-processing, sinks; or the four text
  stages) give each layer's execution as the difference between a prefix
  and its parent prefix.

A layer that does no work in a workload reports what its call-site jobs
cost there, which is zero when it launches none.
"""
import statistics

MB = 1048576.0
TEXT_STAGES = ("gopherFilter", "exactDedup", "mixToTarget", "bins")
# registered queries sharing the champion memo: q259 builds it, q267 hits it
MEMO = ("q259", "q267")


def totals(jobs):
    t = {"jobs": len(jobs), "wall": 0.0}
    for k in ("stages", "tasks", "empty_tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms",
              "shuffle_write", "shuffle_read", "spill", "input", "output"):
        t[k] = sum(j[k] for j in jobs)
    t["wall"] = sum(j["end"] - j["start"] for j in jobs) / 1000.0
    return t


def ledger(op, module):
    return totals([j for j in op["jobs"] if j["module"] == module])


def input_rows(workload, shape):
    return shape["corpus_docs" if workload == "curate_corpus" else "lineitem_rows"]


def end_to_end(workload, rec, shape):
    ops = [o for o in rec["ops"] if o["ok"]] or rec["ops"]
    walls = [o["wall_s"] for o in ops]
    tots = [totals(o["jobs"]) for o in ops]
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "input_rows_per_s": (input_rows(workload, shape) * len(ops) / sum(walls),
                             "rows/s"),
        "task_cpu_s": (statistics.median(t["cpu_ns"] / 1e9 for t in tots), "s"),
        "shuffle_mb": (statistics.median(t["shuffle_write"] / MB for t in tots), "MB"),
        "peak_heap_mb": (max(o["heap_mb"] for o in ops), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def spark_layer(op, cores):
    t = totals(op["jobs"])
    return {
        "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
        "spark.task_run_s": t["run_ms"] / 1000.0, "spark.gc_s": t["gc_ms"] / 1000.0,
        "spark.sched_wait_s": t["wait_ms"] / 1000.0,
        "spark.core_util": t["run_ms"] / 1000.0 / (op["wall_s"] * cores),
        "spark.spill_mb": t["spill"] / MB,
        "spark.empty_task_frac": t["empty_tasks"] / max(1, t["tasks"]),
    }


def call_site_layers(op):
    """Every layer from its call-site jobs alone (the zero-work default)."""
    core, etl, ops_, seq = (ledger(op, m) for m in ("core", "etl", "operators", "seq"))
    post, io, text = (ledger(op, m) for m in ("post", "io", "text"))
    t = totals(op["jobs"])
    m = {
        "core.build_s": core["wall"], "core.build_jobs": core["jobs"],
        "core.input_mb": t["input"] / MB, "core.exec_s": 0.0,
        "etl.exec_s": etl["wall"], "etl.task_cpu_s": etl["cpu_ns"] / 1e9,
        "etl.shuffle_write_mb": etl["shuffle_write"] / MB, "etl.rows_kept_frac": 0.0,
        "operators.build_s": 0.0, "operators.exec_s": ops_["wall"],
        "seq.build_jobs": seq["jobs"], "seq.exec_s": seq["wall"],
        "seq.task_cpu_s": seq["cpu_ns"] / 1e9, "seq.shuffle_read_mb": seq["shuffle_read"] / MB,
        "post.exec_s": post["wall"],
        "io.write_s": sum(j["end"] - j["start"] for j in op["jobs"]
                          if j["module"] == "io" and j["output"] > 0) / 1000.0,
        "io.readback_s": sum(j["end"] - j["start"] for j in op["jobs"]
                             if j["module"] == "io" and j["output"] == 0) / 1000.0,
        "io.jobs": io["jobs"], "io.output_mb": t["output"] / MB,
        "text.task_cpu_s": text["cpu_ns"] / 1e9,
        "text.shuffle_write_mb": text["shuffle_write"] / MB, "text.docs_kept_frac": 0.0,
    }
    for s in TEXT_STAGES:
        m[f"text.{s}.exec_s"] = 0.0
    for q in MEMO:
        for k in ("build_s", "build_jobs", "exec_s"):
            m[f"SparkEntry.{q}.{k}"] = 0.0
    m["SparkEntry.memo_build_s"] = 0.0
    m["SparkEntry.memo_hit_s"] = 0.0
    return m


def segs_of(op):
    out = {}
    for s in op["segs"]:
        t = totals(s["jobs"])
        t.update(seg_wall=s["wall_s"], rows=s["rows"])
        out[s["name"]] = t
    return out


def submission_layers(op, m):
    S = segs_of(op)
    w = lambda n: S[n]["seg_wall"]  # noqa: E731
    d = lambda n, a, b: S[a][n] - S[b][n]  # noqa: E731
    # Sinks.csvSubmission writes, then reads the file back: the jobs after
    # the last one that wrote bytes are the read-back
    csv_jobs = sorted((j for s in op["segs"] if s["name"] == "io.csv" for j in s["jobs"]),
                      key=lambda j: j["id"])
    last_write = max((i for i, j in enumerate(csv_jobs) if j["output"] > 0), default=-1)
    readback = sum(j["end"] - j["start"] for j in csv_jobs[last_write + 1:]) / 1000.0
    m.update({
        "core.exec_s": w("core.exec"),
        "etl.exec_s": w("etl.exec") - w("core.exec"),
        "etl.task_cpu_s": d("cpu_ns", "etl.exec", "core.exec") / 1e9,
        "etl.shuffle_write_mb": d("shuffle_write", "etl.exec", "core.exec") / MB,
        "etl.rows_kept_frac": S["etl.exec"]["rows"] / S["core.exec"]["rows"],
        "operators.build_s": w("operators.build") - w("etl.build"),
        "operators.exec_s": w("operators.exec") - w("etl.exec"),
        "seq.exec_s": w("seq.build") + w("seq.exec") - w("etl.build") - w("etl.exec"),
        "seq.task_cpu_s": (S["seq.build"]["cpu_ns"] + S["seq.exec"]["cpu_ns"]
                           - S["etl.build"]["cpu_ns"] - S["etl.exec"]["cpu_ns"]) / 1e9,
        "seq.shuffle_read_mb": (S["seq.build"]["shuffle_read"] + S["seq.exec"]["shuffle_read"]
                                - S["etl.exec"]["shuffle_read"]) / MB,
        "post.exec_s": w("post.exec") - w("seq.cached"),
        "io.write_s": (w("io.parquet") - w("operators.exec"))
        + (w("io.csv") - readback - w("post.exec")),
        "io.readback_s": readback + w("io.validate"),
    })
    own = ("core.build_s", "core.exec_s", "etl.exec_s", "operators.build_s",
           "operators.exec_s", "seq.exec_s", "post.exec_s", "io.write_s", "io.readback_s")
    m["residual_s"] = op["wall_s"] - sum(m[k] for k in own)
    for q in MEMO:
        b, e = S[f"SparkEntry.{q}.build"], S[f"SparkEntry.{q}.exec"]
        m[f"SparkEntry.{q}.build_s"] = b["seg_wall"]
        m[f"SparkEntry.{q}.build_jobs"] = b["jobs"]
        m[f"SparkEntry.{q}.exec_s"] = e["seg_wall"]
    m["SparkEntry.memo_build_s"] = m["SparkEntry.q259.build_s"] + m["SparkEntry.q259.exec_s"]
    m["SparkEntry.memo_hit_s"] = m["SparkEntry.q267.build_s"] + m["SparkEntry.q267.exec_s"]


def curate_layers(op, m, shape):
    S = segs_of(op)
    w = lambda n: S[n]["seg_wall"]  # noqa: E731
    prev = "core.exec"
    m["core.exec_s"] = w(prev)
    for s in TEXT_STAGES:
        m[f"text.{s}.exec_s"] = w(f"text.{s}") - w(prev)
        prev = f"text.{s}"
    m["text.task_cpu_s"] = (S["text.bins"]["cpu_ns"] - S["core.exec"]["cpu_ns"]) / 1e9
    m["text.shuffle_write_mb"] = (S["text.bins"]["shuffle_write"]
                                  - S["core.exec"]["shuffle_write"]) / MB
    m["text.docs_kept_frac"] = sum(int(r["n_docs"]) for r in op["summary"]) / shape["corpus_docs"]
    own = ["core.build_s", "core.exec_s"] + [f"text.{s}.exec_s" for s in TEXT_STAGES]
    m["residual_s"] = op["wall_s"] - sum(m[k] for k in own)


UNITS = [("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_jobs", "count"),
         (".jobs", "count"), (".stages", "count"), (".tasks", "count"),
         (".core_util", "ratio")]


def unit_of(name):
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def per_layer(workload, rec, shape, cores):
    ops = [o for o in rec["ops"] if o["ok"]]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    if not traced or not untraced:
        return {}
    per_op = []
    for o in traced:
        m = call_site_layers(o)
        m.update(spark_layer(o, cores))
        if workload == "submission_cold":
            submission_layers(o, m)
        else:
            curate_layers(o, m, shape)
        per_op.append(m)
    out = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
    out["trace_overhead_s"] = (statistics.median(o["wall_s"] for o in traced)
                               - statistics.median(o["wall_s"] for o in untraced))
    return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(out.items())}


def tail(walls):
    """The highest whole percentile with at least ten ops beyond it."""
    n = len(walls)
    p = (100 * (n - 10)) // n if n > 10 else 0
    if p < 50:
        return None
    return p, sorted(walls)[min(n - 1, (p * n + 99) // 100 - 1)], n


def info_lines(rec):
    ops = [o for o in rec["ops"] if o["ok"]]
    walls = [o["wall_s"] for o in ops]
    yield f"set-up {rec['setup_s']:.2f} s; ops " + " ".join(f"{w:.2f}" for w in walls) + " s"
    t = tail(walls)
    yield (f"op_tail_s p{t[0]} = {t[1]:.4f} s over n={t[2]} ops" if t else
           f"op_tail_s not reported: n={len(walls)} ops leave fewer than ten beyond p50")


def repeat_problems(rec):
    """Spark counters that differ between two ops of one seed."""
    groups = [totals(o["jobs"]) for o in rec["ops"] if o["ok"]]
    if len(groups) < 2:
        return ["fewer than two ops to compare"]
    a, b = groups[0], groups[1]
    return [f"{k}: {a[k]} vs {b[k]}" for k in
            ("jobs", "stages", "tasks", "shuffle_write", "shuffle_read") if a[k] != b[k]]
