"""Regenerate un_datapipeline_spark/priority.py from CORRECTNESS files.

Usage (round N+1, after the driver writes CORRECTNESS_rNN.json):

    python tools/regen_priority.py CORRECTNESS_r01.json CORRECTNESS_r02.json \
        CORRECTNESS_r03.json CORRECTNESS_r04.json > un_datapipeline_spark/priority.py

Rules (the procedure rounds 2-4 applied by hand):

* A name's verdict is its LATEST one (the highest-round file it appears
  in).  Green = hash_match true, or a contracted rows-only check
  (err == "no_oracle" with spark_rows recorded).  Anything else — crash,
  hash mismatch, row mismatch — is NOT green and must re-verify.
* DRIVER_GREEN is ordered stalest-verdict-first: names whose latest
  verdict is round 1 lead, then round 2, etc.; within a round, driver
  slot order (the file's key order) is preserved.  Leftover driver
  slots therefore refresh the oldest verdicts first.
* NEVER_VERIFIED = registered operators absent from every file (plus
  any non-green latest verdicts) — they take the FIRST slots.  This
  script emits only the literal lists; sort_key keeps handling
  brand-new operators (registered after regeneration) as group 1.
* STALE_REFRESH = REFRESH_COUNT names promoted from DRIVER_GREEN into
  the driver window right after the re-verifies — the round-5
  ``reshape_transpose`` incident proved the local mirror can have blind
  spots the driver doesn't, so each round re-confirms a few of the
  oldest greens (VERDICT r05 item 5) instead of trusting r01-era stamps
  on since-edited modules forever.  Picked stalest-first but one per
  name family (``agg_``, ``join_``, ``llm_``, …) so the refresh spans
  different operator modules instead of re-checking five neighbours.
"""

from __future__ import annotations

import json
import re
import sys

# Target size of each round's green re-confirm window.  FORCE_REFRESH
# names always ALL get slots (stamp-void re-edits are never truncated —
# ADVICE r07); stalest-green auto picks only fill UP TO this total.
REFRESH_COUNT = 5

# Ops RE-EDITED after their latest driver stamp take the first refresh
# slots (VERDICT r06 item 2 — the transpose incident is the standing
# proof that local-green ≠ driver-green, so an edited op's old stamp is
# void).  Round procedure: add a name here when you edit a driver-green
# op; REMOVE it once its fresh stamp lands in CORRECTNESS_rNN.json.
# Forced names may share a family (they are need-driven); the AUTO
# stalest-first picks still span distinct families not already covered.
# ADVICE r07: order entries by RISK — oracle/kernel semantic changes
# first, pure refactors last.  (Forced entries are never truncated —
# see main() — so ordering is about review priority, not survival.)
FORCE_REFRESH: tuple[str, ...] = (
    # -- Pruned: CORRECTNESS_r13 re-stamped all 19 earlier forced names
    # green.  The iteration-scope / shared-edge-helper edits below,
    # risk-first.  All are code-only (oracles unchanged).
    #
    # Plan changes (work now runs at the pinned iteration width, or a
    # knob is gone):
    "graph_kcore",               # final degree table frozen inside the
    #                              iteration scope (was outside the pin)
    "graph_label_propagation",   # result frozen inside the scope; the
    #                              edge build is the shared helper
    "graph_modularity",          # same shared _lpa_state + scope
    "llm_dedup_cluster",         # connected_components on the scope;
    #                              its two env knobs retired
    "llm_canonical_select",      # same connected_components
    "llm_neardup_cluster",       # same connected_components
    # checkpoint-durability gate: the last plain localCheckpoint sites
    # switched to session.ckpt — identical local behavior, new syntax:
    "llm_dedup_ngram_jaccard",
    "llm_dedup_containment",
    "llm_dedup_incremental",
    "llm_dedup_simhash",
    "mm_phash_dedup",
    "join_runtime_bloom",
    "llm_ranker_agreement",
    # pure refactors (same plans, shared helpers):
    "graph_pagerank",            # iteration scope replaces try/finally
    "graph_bfs_layers",          # iteration scope + shared edge helper
    "graph_triangle_count",      # shared _degree_oriented_edges
    "graph_local_clustering",    # shared _degree_oriented_edges
    "graph_degree_stats",        # shared _cust_supp_edges
    "graph_jaccard_neighbors",   # shared _cust_supp_edges
    "graph_link_predict_aa",     # shared _cust_supp_edges
)

# Round-10's window overflow mechanism (kept for the procedure doc): when
# stamp-void edits exceed the 50-slot window, the least-risk rows-only /
# zero-semantic names are deferred here and MUST move to the TOP of the
# next round's FORCE_REFRESH.  Round 11 consumed the r10 deferrals above;
# currently empty.
DEFERRED_REFRESH_R12 = ()


def is_green(v: dict) -> bool:
    if v.get("hash_match") is True:
        return True
    # contracted rows-only: driver ran the op, no oracle declared
    return v.get("err") == "no_oracle" and v.get("spark_rows") is not None


def main(paths: list[str]) -> None:
    latest: dict[str, tuple[int, int, dict]] = {}
    for path in paths:
        m = re.search(r"r(\d+)", path)
        rnd = int(m.group(1)) if m else 0
        with open(path) as f:
            data = json.load(f)
        for slot, (name, verdict) in enumerate(data.items()):
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, slot, verdict)

    green = [
        (rnd, slot, name)
        for name, (rnd, slot, v) in latest.items()
        if is_green(v)
    ]
    green.sort()
    not_green = sorted(
        name for name, (_, _, v) in latest.items() if not is_green(v)
    )

    green_names = {name for _, _, name in green}
    # ALL forced names take refresh slots — never truncated (ADVICE r07:
    # truncating stamp-void re-edits out of the window leaves changed
    # code under a stale-green stamp for a full round, strictly worse
    # than skipping a routine stalest-green re-confirm).  Only the
    # stalest-first AUTO fill is bounded by REFRESH_COUNT.
    refresh: list[str] = [n for n in FORCE_REFRESH if n in green_names]
    seen_families: set[str] = {n.split("_", 1)[0] for n in refresh}
    for _, _, name in green:
        if len(refresh) >= REFRESH_COUNT:
            break
        if name in refresh:
            continue
        fam = name.split("_", 1)[0]
        if fam in seen_families:
            continue
        seen_families.add(fam)
        refresh.append(name)

    rounds = sorted({rnd for rnd, _, _ in green})
    src = ", ".join(f"CORRECTNESS_r{r:02d}.json" for r in rounds)
    print('"""Driver-pass ordering for the operator registry.')
    print()
    print("GENERATED by tools/regen_priority.py from the union of")
    print(f"{src} — regenerate after every")
    print("round instead of editing by hand.  Groups (sort_key codes):")
    print()
    print("0. never driver-verified / latest verdict not green — first;")
    print("1. STALE_REFRESH — a few of the stalest greens, re-confirmed")
    print("   every round (one per name family; see tools/regen_priority.py);")
    print("2. registered after this regeneration (no verdict) — next;")
    print("3. driver-green, ordered STALEST latest-verdict first, so")
    print("   leftover slots refresh the oldest verdicts.")
    print('"""')
    print()
    print("from __future__ import annotations")
    print()
    print("# Latest driver verdict was a crash or mismatch (re-verify first);")
    print("# operators never seen by the driver are handled by sort_key as")
    print("# group 2 without being listed here.")
    print("NEVER_VERIFIED = (")
    for n in not_green:
        print(f'    "{n}",')
    print(")")
    print()
    print("# Greens re-confirmed this round (the round-5 transpose incident:")
    print("# local parity has blind spots the driver doesn't — don't trust")
    print("# old stamps forever).  FORCED names (re-edited since their last")
    print("# driver stamp — see tools/regen_priority.py FORCE_REFRESH) lead;")
    print("# the rest are the stalest greens, one per name family.")
    print("STALE_REFRESH = (")
    forced = set(FORCE_REFRESH)
    for n in refresh:
        tag = "  # forced: re-edited since last stamp" if n in forced else ""
        print(f'    "{n}",{tag}')
    print(")")
    print()
    print(f"# {len(green)} green names, stalest verdict first.")
    print("DRIVER_GREEN = (")
    cur = None
    for rnd, _, name in green:
        if rnd != cur:
            cur = rnd
            print(f"    # latest verdict: round {rnd}")
        print(f'    "{name}",')
    print(")")
    print()
    print('''
# Operators added mid-round AFTER the 50-slot window was already full of
# higher-priority work: parked in overflow (group 4, behind the greens)
# so they cannot displace the round's verification plan.  Regen always
# resets this to empty (a parked op with no verdict becomes group 2).
DEFERRED = ()


def sort_key(names: list[str]) -> dict[str, tuple]:
    """Map each operator name to (group, within-group order) — the
    within-group order is an int for groups 0/1/3/4 and a (sub, index)
    tuple for group 2 (tpch-first), compared only within its group."""
    group: dict[str, tuple] = {}
    for i, n in enumerate(NEVER_VERIFIED):
        group[n] = (0, i)
    for i, n in enumerate(STALE_REFRESH):
        group.setdefault(n, (1, i))  # in-window green re-confirms
    out: dict[str, tuple] = {}
    green_rank = {n: i for i, n in enumerate(DRIVER_GREEN)}
    deferred_rank = {n: i for i, n in enumerate(DEFERRED)}
    for i, n in enumerate(names):
        if n in group:
            out[n] = group[n]
        elif n in deferred_rank:
            out[n] = (4, deferred_rank[n])  # parked past the greens
        elif n in green_rank:
            # already green — last of the verification-relevant groups,
            # stalest verdict first
            out[n] = (3, green_rank[n])
        else:
            # never-driver-seen — after the refreshes.  Drained
            # tpch-first (VERDICT r06: the warehouse suite is the
            # highest-user-value unverified family), then registry
            # order; the (sub, i) tuple only ever compares within
            # group 2.
            out[n] = (2, (0 if n.startswith("tpch_") else 1, i))
    return out'''.strip())


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
