#!/usr/bin/env python3
"""Regenerate the AUTOGEN scaling section of BASELINE.md from a bench JSON.

Usage:
    python3 tools/update_baseline.py [bench.json]

Without an argument, picks the newest BENCH_r*.json in the repo root. The
bench JSON is the single line `graft.Bench` prints (the driver stores it as
BENCH_r{N}.json). Everything between the AUTOGEN markers in BASELINE.md is
replaced; the hand-written analysis around the markers is preserved.
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- AUTOGEN:SCALING begin (tools/update_baseline.py) -->"
END = "<!-- AUTOGEN:SCALING end -->"


def newest_bench():
    cands = glob.glob(os.path.join(ROOT, "BENCH_r*.json")) + \
        glob.glob(os.path.join(ROOT, "BENCH_LOCAL.json"))
    if not cands:
        sys.exit("no BENCH_LOCAL.json / BENCH_r*.json found and no path given")
    # newest RUN by mtime; DETERMINISTIC tie-break (a fresh clone stamps
    # every tracked file with one checkout time): prefer BENCH_LOCAL, then
    # the highest NUMERIC round (lexicographic would rank r9 over r10)
    def key(p):
        name = os.path.basename(p)
        m = re.search(r"r(\d+)", name)
        return (os.path.getmtime(p), name == "BENCH_LOCAL.json",
                int(m.group(1)) if m else -1)
    return max(cands, key=key)


def parse_bench(txt):
    """Accept either the raw graft.Bench line or the driver's wrapper
    {n, rc, cpus, sf, tail, parsed} whose `tail` holds only the line's
    last ~2000 chars (scaling sits at the end, so it usually survives)."""
    line = next((l for l in txt.splitlines()
                 if l.startswith("{") and '"metric"' in l), None)
    if line:
        return json.loads(line)
    d = json.loads(txt)
    if isinstance(d.get("parsed"), dict):
        return d["parsed"]
    tail = d.get("tail", "")
    # "scaling":null (a run whose burst children failed) matches nothing
    m = re.search(r'"scaling":\{', tail)
    bench = {"value": None, "sf": d.get("sf"), "cpus": d.get("cpus"), "queries": {}}
    if m:
        # parse the balanced JSON object following "scaling":
        i = m.end() - 1
        depth, j = 0, i
        while j < len(tail):
            depth += {"{": 1, "}": -1}.get(tail[j], 0)
            j += 1
            if depth == 0:
                break
        bench["scaling"] = json.loads(tail[i:j])
    return bench


def render(bench, src_name):
    s = bench.get("scaling")
    out = [BEGIN, f"_Source: `{src_name}` (regenerated by `tools/update_baseline.py`)._", ""]
    total = bench.get("value")
    sf = bench.get("sf", "?")
    cpus = bench.get("cpus", "?")
    if total is not None:
        out.append(f"Warm query total: **{total:.1f} s** over {len(bench.get('queries', {}))} "
                   f"queries at `{sf}`, local[{cpus}]"
                   + (", warm pass pulse-free" if bench.get("warm_pass_pulse_free") else "") + ".")
    flag = {k: v for k, v in bench.get("queries", {}).items()
            if k in ("t_extract", "t_segment", "t_xml", "t_lineage")}
    if flag:
        out.append("Flagship queries: " + ", ".join(
            f"`{k}` {v:.2f}s" for k, v in sorted(flag.items())) + ".")
    if not s:
        note = bench.get("scaling_note")
        out += ["", f"_No scaling block in this bench run{': ' + note if note else ''}._", END]
        return "\n".join(out)
    # records up to r05 carry min-based levels; later ones carry medians
    # and the per-pair ratios the headline is the median of
    medians = "pair_ratios" in s
    out += ["",
            f"| level | seconds ({'median' if medians else 'best draw'}) | turns/sec | segments |",
            "|---|---|---|---|"]
    for l in s["levels"]:
        out.append(f"| local[{l['cpus']}] | {l['seconds']:.2f} | "
                   f"{l['turns_per_sec']:.0f} | {l['segments']} |")
    lo = min(s["levels"], key=lambda l: l["cpus"])
    hi = max(s["levels"], key=lambda l: l["cpus"])
    pair = f"local[{lo['cpus']}] → local[{hi['cpus']}]"
    bursts = f" over {s['bursts']} interleaved burst pairs" if "bursts" in s else ""
    target = "(target ≥ 0.8, BASELINE.json north rule)."
    if not medians:
        eff = s.get("efficiency_min_based", s["efficiency"])
        out += ["", f"**Scaling efficiency {pair} (N→4N, min-based{bursts}): {eff:.3f}** {target}"]
    elif s.get("efficiency") is None:
        out += ["", f"**Scaling efficiency {pair}: not recorded** — "
                    f"{s.get('efficiency_null_reason', 'no reason recorded')} {target}"]
    else:
        out += ["", f"**Scaling efficiency {pair} (N→4N, median of the per-pair ratios{bursts}): "
                    f"{s['efficiency']:.3f}** {target}"]
    out += ["",
            f"- Input: {s['n_convs']} conversations / {s['n_turns']} turns "
            f"(deterministic synthetic corpus, seed 42)."]
    if medians and s["pair_ratios"]:
        out.append("- Per-pair ratios (s_lo / s_hi) / (cpus_hi / cpus_lo), each burst's median "
                   "seconds, in burst order: "
                   f"{', '.join(f'{e:.3f}' for e in s['pair_ratios'])}.")
    if s.get("efficiency_trajectory"):
        out.append(f"- Running-min trajectory (burst k uses each level's best draw so far): "
                   f"{', '.join(f'{e:.3f}' for e in s['efficiency_trajectory'])}.")
    out.append(f"- Occupancy ballast pinned to {s.get('occupancy_pinned_to_cores', 0)} active cores "
               f"while a burst runs (removes the idle-socket turbo bias).")
    pm = s.get("efficiency_paired_median")
    if pm is not None:
        out.append(
            f"- Drift-cancelling PAIRED-median efficiency: {pm:.3f} "
            f"(each burst pair runs its two levels back to back, so the ratio "
            f"cancels ambient clock-regime changes the min-based headline "
            f"cannot — the two levels' all-time best draws may come from "
            f"different frequency windows).")
    probe = s.get("noise_probe")
    if probe:
        out.append(
            f"- Noise probe (128 MB streaming sum): best {probe['best_ms']:.1f} ms; "
            f"{probe['gated_waits']} burst(s) were gated to wait for a clean window.")
    def _tps(kc):
        return ", ".join(f"{t} thr {v:.0f} t/s" for t, v in sorted(
            kc.get("tps", {}).items(), key=lambda kv: int(kv[0])))
    def _eff(kc):
        # null when the run withholds every ratio (an oversubscribed host)
        return "not recorded" if kc.get("efficiency") is None else f"{kc['efficiency']:.3f}"
    kc = s.get("kernel_ceiling")
    kcp = s.get("kernel_ceiling_pre")
    if kc and kcp:
        out.append(
            f"- Kernel-ceiling BRACKET (raw threads, no Spark): "
            f"{_eff(kcp)} before any timed work ({_tps(kcp)}), "
            f"{_eff(kc)} after the bursts ({_tps(kc)}) — the "
            f"hardware bound the pipeline number is relative to, at both ends "
            f"of the run; pipeline ≈ ceiling means Spark adds no anti-scaling, "
            f"a low endpoint means window weather on that side of the run.")
    elif kc:
        out.append(
            f"- Kernel ceiling (raw threads, no Spark, SAME window): "
            f"{_eff(kc)} ({_tps(kc)}) — the hardware bound the pipeline "
            f"number is relative to; pipeline ≈ ceiling means Spark adds no "
            f"anti-scaling, a low ceiling means window weather.")
    if kc and kc.get("efficiency") is None:
        out[-1] += (" Ratios not recorded: "
                    + s.get("efficiency_null_reason", "no reason recorded") + ".")
    out.append(END)
    return "\n".join(out)


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else newest_bench()
    with open(src) as f:
        txt = f.read().strip()
    bench = parse_bench(txt)
    path = os.path.join(ROOT, "BASELINE.md")
    with open(path) as f:
        md = f.read()
    block = render(bench, os.path.basename(src))
    if BEGIN in md:
        md = re.sub(re.escape(BEGIN) + r".*?" + re.escape(END), block, md, flags=re.S)
    else:
        md = md.rstrip() + "\n\n## Measured (latest bench run, auto-updated)\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(md)
    print(f"BASELINE.md scaling section regenerated from {os.path.basename(src)}")


if __name__ == "__main__":
    main()
