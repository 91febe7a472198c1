"""Render the latest interleaved 2v8 campaign pair from scaling_runs.jsonl
as the BENCH/BASELINE.md markdown row(s) + the default-mode decision inputs.

Decision rule (VERDICT r5 #1): the shipped default stays OPH iff, in a
same-window interleaved pair, OPH >= perm throughput on BOTH core counts or
OPH alone clears efficiency >= 0.8 in a probe-healthy window; if OPH loses
the healthy-window pair, flip the default back to perm.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fmt_probe(p: dict | None) -> str:
    if not p:
        return "none"
    if "pre" in p or "post" in p:  # r6 bracket shape: {pre: {...}, post: {...}}
        return " / ".join(f"{k}: {fmt_probe(p.get(k))}" for k in ("pre", "post"))
    if "error" in p:
        return f"err:{p['error']}"
    return f"fill={p['fresh_fill_s']}s copy={p['copy_gbps']}GB/s {'HEALTHY' if p['healthy'] else 'degraded'}"


def main() -> None:
    rows = []
    with open(os.path.join(REPO, "BENCH", "scaling_runs.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r.get("n_turns", 0) > 20_000_000 and "wall_sec_local2" in r:
                rows.append(r)
    # the latest interleaved pair = last ADJACENT (oph, perm) rows that
    # declare each other via interleaved_with — last-row-per-mode over the
    # whole file could pair rows from different campaigns/windows, exactly
    # the cross-window comparison the r5 protocol declares meaningless
    # (ADVICE r6)
    latest: dict[str, dict] = {}
    for a, b in zip(rows, rows[1:]):
        ma, mb = a.get("minhash_mode", "?"), b.get("minhash_mode", "?")
        if (
            {ma, mb} == {"oph", "perm"}
            and mb in (a.get("interleaved_with") or [])
            and ma in (b.get("interleaved_with") or [])
        ):
            latest = {ma: a, mb: b}
    paired = bool(latest)
    if not paired:
        print(
            "no adjacent interleaved oph/perm pair found — refusing to pair "
            "rows across campaigns/windows; no keep-or-flip decision."
        )
        for r in rows[-2:]:
            latest.setdefault(r.get("minhash_mode", "?"), r)  # display-only
    print("| mode | wall 2c (s) | wall 8c (s) | thr 2c | thr 8c | eff | probe 2c | probe 8c |")
    print("|---|---|---|---|---|---|---|---|")
    for mode in ("oph", "perm"):
        r = latest.get(mode)
        if not r:
            continue
        p = r.get("probes", {})
        p2 = (p.get("2") or [None])[0]
        p8 = (p.get("8") or [None])[0]
        print(
            f"| {mode} | {r['wall_sec_local2']} | {r['wall_sec_local8']} | "
            f"{r['turns_per_sec_local2']} | {r['turns_per_sec_local8']} | "
            f"**{r['scaling_efficiency']}** | {fmt_probe(p2)} | {fmt_probe(p8)} |"
        )
    o, p = latest.get("oph"), latest.get("perm")
    if paired:
        print()
        print(f"oph vs perm thr: 2c {o['turns_per_sec_local2']} vs {p['turns_per_sec_local2']} "
              f"({o['turns_per_sec_local2']/p['turns_per_sec_local2']-1:+.1%}); "
              f"8c {o['turns_per_sec_local8']} vs {p['turns_per_sec_local8']} "
              f"({o['turns_per_sec_local8']/p['turns_per_sec_local8']-1:+.1%})")
        wins_both = (o["turns_per_sec_local2"] >= p["turns_per_sec_local2"]
                     and o["turns_per_sec_local8"] >= p["turns_per_sec_local8"])
        print(f"oph eff>=0.8: {o['scaling_efficiency'] >= 0.8}; oph wins both sides: {wins_both}")
        print("decision: keep OPH default" if (o["scaling_efficiency"] >= 0.8 or wins_both)
              else "decision: per protocol, flip default to perm UNLESS the oph loss is window-attributable (check probes)")


if __name__ == "__main__":
    sys.exit(main())
