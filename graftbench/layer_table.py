#!/usr/bin/env python3
"""Render the per-layer table of traced run artifacts as markdown.

    python3 graftbench/layer_table.py TRACED.json [UNTRACED.json] ...

Arguments are run artifacts from graftbench/work/runs. Each traced artifact
gives one table; an untraced artifact of the same workload and seed adds
the tracing overhead (traced vs untraced pass_s).
"""

import json
import sys

BASE = ["s", "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
        "spill_mb", "driver_s", "util"]
LAYERS = ["ingest", "graph", "algos.pr", "algos.wcc", "algos.lp", "algos.tc",
          "checkpoint", "io", "server", "spark"]


def fmt(v):
    return f"{v:.0f}" if v == int(v) and abs(v) >= 10 else f"{v:.3g}"


def table(traced, untraced):
    pl = {k: v["value"] for k, v in traced["per_layer"].items()}
    host, inp = traced["host"], traced["input"]
    out = [f"### {traced['workload']} (seed {inp['seed']}, traced)", "",
           f"Host: {host['cores']} cores, {host['master']}, heap "
           f"{host['heap_gb']:.1f} GB, MemTotal {host['mem_total_gb']:.1f} GB, "
           f"{host['shuffle_partitions']} shuffle partitions, Spark "
           f"{host['spark_version']}, Java {host['java_version']}. Input: "
           f"{inp['edges']} edges, {inp['vertices']} vertices, "
           f"{inp['distinct_pairs']} distinct pairs. Medians over "
           f"{traced['timed_passes']} timed pass(es).", "",
           "| layer | " + " | ".join(BASE) + " | extras |",
           "| --- |" + " --- |" * (len(BASE) + 1)]
    for layer in LAYERS:
        extras = sorted(k for k in pl if k.startswith(layer + ".")
                        and k[len(layer) + 1:] not in BASE
                        and "." not in k[len(layer) + 1:])
        out.append(f"| `{layer}` | " + " | ".join(
            fmt(pl[f"{layer}.{m}"]) for m in BASE) + " | " + ", ".join(
            f"{k[len(layer) + 1:]}={fmt(pl[k])}" for k in extras) + " |")
    spark_s, uncovered = pl["spark.s"], pl["spark.driver_s"]
    out += ["", f"Pass time no Spark job covers: {uncovered:.2f} s of "
            f"{spark_s:.2f} s ({uncovered / spark_s:.0%})."]
    if untraced:
        base = untraced["metrics"]["pass_s"]["value"]
        out.append(f"Tracing overhead: traced pass {spark_s:.2f} s vs "
                   f"untraced {base:.2f} s ({spark_s / base - 1:+.1%}, one "
                   f"run each, same seed).")
    return "\n".join(out) + "\n"


def main():
    arts = [json.load(open(p)) for p in sys.argv[1:]]
    for t in (a for a in arts if a["traced"]):
        u = next((a for a in arts if not a["traced"]
                  and a["workload"] == t["workload"]
                  and a["input"]["seed"] == t["input"]["seed"]), None)
        print(table(t, u))


if __name__ == "__main__":
    main()
