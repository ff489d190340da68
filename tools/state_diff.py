#!/usr/bin/env python3
"""Dump a crawl state root, or diff two of them.

    python3 tools/state_diff.py dump STATE_ROOT > a.json
    python3 tools/state_diff.py diff A B

`dump` walks STATE_ROOT for snapshot tables (every directory holding a
`snapshots/` directory: frontier, seen, seen/tombstones, scheduled, out,
robots, imgbloom, a page store) and prints one JSON document with, per
table and snapshot manifest `v<id>.json`: parent id, lineage, `row_count`,
`delta_rows`, recorded schema and partition column, `data_dirs` (or the one
`data_dir` of a full commit) with the state root stripped, and the per-file
rows of its file entries (path relative to the root, the part file's job
UUID masked, since it differs between runs). It adds the sha256 of every
pointer (`snapshots/current`), stage marker (`stages/*`), shard sidecar
(`snapshots/*.bin`), `bloom-meta.json` and `shard-count`.

`diff` takes two dumps or two state roots (a directory is dumped first) and
prints each entry that is only in A, only in B, or differs. It exits 0 when
they are equal and 1 otherwise. Standard library only.
"""
import hashlib
import json
import os
import re
import sys

PART_UUID = re.compile(r"part-(\d+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}")
HASHED = re.compile(r"^(current|bloom-meta\.json|shard-count|.*\.bin)$")


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def rel(root, path):
    path = os.path.realpath(path) if os.path.isabs(path) else path
    return PART_UUID.sub(r"part-\1-*", os.path.relpath(path, root))


def manifest_entry(root, m):
    dirs = m.get("data_dirs") or [m["data_dir"]]
    files = sorted(
        [rel(root, f["path"]), f.get("rows"), f.get("partition")]
        for f in m.get("files", []))
    return {
        "parent_id": m.get("parent_id"),
        "lineage": m.get("lineage", {}),
        "row_count": m.get("row_count"),
        "delta_rows": m.get("delta_rows"),
        "schema": m.get("schema_json"),
        "partition_col": m.get("partition_col"),
        "data_dirs": [rel(root, d) for d in dirs],
        "files": files,
    }


def dump(state_root):
    root = os.path.realpath(state_root)
    out = {}
    for d, subdirs, _ in sorted(os.walk(root)):
        subdirs.sort()
        snaps = os.path.join(d, "snapshots")
        if not os.path.isdir(snaps):
            continue
        table = {"snapshots": {}, "sha256": {}}
        for name in sorted(os.listdir(snaps)):
            p = os.path.join(snaps, name)
            if re.fullmatch(r"v\d+\.json", name):
                with open(p) as fh:
                    table["snapshots"][name[1:-5]] = manifest_entry(root, json.load(fh))
            elif HASHED.match(name):
                table["sha256"][f"snapshots/{name}"] = sha256(p)
        stages = os.path.join(d, "stages")
        if os.path.isdir(stages):
            for name in sorted(os.listdir(stages)):
                if not name.endswith(".tmp"):
                    table["sha256"][f"stages/{name}"] = sha256(os.path.join(stages, name))
        out[os.path.relpath(d, root)] = table
    return out


def flatten(dumped):
    flat = {}
    for table, t in dumped.items():
        for sid, entry in t["snapshots"].items():
            for k, v in entry.items():
                flat[f"{table} v{sid} {k}"] = v
        for name, digest in t["sha256"].items():
            flat[f"{table} {name}"] = digest
    return flat


def load(arg):
    if os.path.isdir(arg):
        return dump(arg)
    with open(arg) as fh:
        return json.load(fh)


def diff(a, b):
    fa, fb = flatten(load(a)), flatten(load(b))
    n = 0
    for k in sorted(set(fa) | set(fb)):
        if k not in fb:
            print(f"only in A: {k}")
        elif k not in fa:
            print(f"only in B: {k}")
        elif fa[k] != fb[k]:
            print(f"differs:   {k}\n  A: {json.dumps(fa[k])}\n  B: {json.dumps(fb[k])}")
        else:
            continue
        n += 1
    print(f"{len(set(fa) | set(fb))} entries, {n} differ")
    return 1 if n else 0


def main(argv):
    if len(argv) == 2 and argv[0] == "dump":
        json.dump(dump(argv[1]), sys.stdout, indent=1, sort_keys=True)
        print()
        return 0
    if len(argv) == 3 and argv[0] == "diff":
        return diff(argv[1], argv[2])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
