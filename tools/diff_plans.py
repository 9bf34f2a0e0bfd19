#!/usr/bin/env python3
"""Diff two graft.Plans dump directories (one `<query>.txt` per query).

    python3 tools/diff_plans.py OLD_DIR NEW_DIR

Each dump is normalized before the compare, so two runs of one tree agree
on every query whose plan is the same:

  - node ordinals `(N)` (an added node renumbers every later one; this
    also masks a bare integer argument such as `count(1)`);
  - expression ids `#N` (`node#123L`);
  - exchange ids `plan_id=N`;
  - RDD ids `RDD[N]` and source lines `.scala:N` (the call site of a
    checkpointed or cached RDD);
  - lambda variable ids `x_N` and JVM lambda class names;
  - the process id in per-process scratch paths (`/tmp/graft_<key>_<pid>`);
  - whole-stage codegen ids (`codegen id : N`) and query stage ids (the
    `Arguments: N` of a `...QueryStage` node);
  - `sizeInBytes` on broadcast stages: the size of a hashed relation
    follows the memory page size, so it changes with the JVM heap.

Lists the queries only one side has, then every query whose normalized
dump differs, with its first differing line from each side. Exits 1 on
any difference, 0 when the two directories agree.

Two plan choices differ from run to run of one tree and show up as
differences here:

  - the build side (BuildLeft vs BuildRight) of the LSH bucket joins:
    `Similarity.signLshPairs`' kept-bucket join (q_dedup_ann_recall*,
    q_dedup_embed_cosine, q_dedup_semdedup_*, q_sim_ann_topk,
    q_sim_label_prop, q_text_decontam_semantic) and the MinHash band join
    (q_dedup_minhash_lsh, q_dedup_lsh_precision, q_dedup_split_leakage);
    it depends on run context, e.g. whether the query ran in the full
    suite or alone;
  - the order of an Expand's distinct groups (q_eng_cramers_v,
    q_eng_profile, q_sim_ari, q_stream_interval_join,
    q_text_decontaminate).

So take the OLD and NEW dumps under the same heap (`SPARK_DRIVER_MEM`)
and compare against the set that two runs of the OLD tree show.
"""
import os
import re
import sys

RULES = [
    (re.compile(r"\(\d+\)"), "(N)"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\bx_\d+"), "x_N"),
    (re.compile(r"\$Lambda\$[^\s,]+"), "$Lambda$N"),
    (re.compile(r"(/tmp/graft_[a-z_]+?_)\d+(?!\d)"), r"\1PID"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
]
BROADCAST_SIZE = re.compile(r"(BroadcastQueryStage.*sizeInBytes=)[^,)]+")


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return BROADCAST_SIZE.sub(r"\1N", line)


STAGE_HEADER = re.compile(r"^\(\d+\) \w*QueryStage\b")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def load(path):
    out, in_stage = [], False
    with open(path) as f:
        for l in f:
            l = l.rstrip("\n")
            if l.startswith("("):
                in_stage = bool(STAGE_HEADER.match(l))
            elif in_stage and STAGE_ID.match(l):
                l = "Arguments: N"
            out.append(normalize(l))
    return out


def dumps(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old_dir, new_dir = argv[1], argv[2]
    old, new = dumps(old_dir), dumps(new_dir)
    removed, added = sorted(old - new), sorted(new - old)
    changed = []
    for q in sorted(old & new):
        a = load(os.path.join(old_dir, q + ".txt"))
        b = load(os.path.join(new_dir, q + ".txt"))
        if a != b:
            i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                     min(len(a), len(b)))
            changed.append((q, i, a[i] if i < len(a) else "<end>",
                            b[i] if i < len(b) else "<end>"))
    for q in removed:
        print(f"removed  {q}")
    for q in added:
        print(f"added    {q}")
    for q, i, x, y in changed:
        print(f"changed  {q} (line {i + 1})\n  old: {x.strip()}\n"
              f"  new: {y.strip()}")
    print(f"{len(old)} -> {len(new)} dumps: {len(removed)} removed, "
          f"{len(added)} added, {len(changed)} changed", file=sys.stderr)
    return 1 if removed or added or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
