"""Seeded NDJSON listen generator for the `ingest` workload.

`listens(out, seed, ...)` writes ListenBrainz-shaped NDJSON ticks plus
`expected.json`, the row counts each tick must produce in bronze, silver
and gold. The output is a pure function of the seed.
"""
import json
import os

import numpy as np

# share of listens that repeat an earlier (user_name, listened_at) key
DUP_SHARE = 0.05
# truncated lines per file
CORRUPT_PER_FILE = 1


def _uuid(rng):
    h = rng.integers(0, 2**63, 2).tolist()
    s = f"{h[0]:016x}{h[1]:016x}"
    return f"{s[:8]}-{s[8:12]}-{s[12:16]}-{s[16:20]}-{s[20:32]}"


def listens(out, seed, ticks, files, per_file, users):
    """NDJSON listen files under `out/tick_<k>/`, and `out/expected.json`.

    Users are Zipf-skewed. Every listen has a distinct
    (user_name, listened_at) except the DUP_SHARE that repeat an earlier
    listen's key, so silver's dedup count is exact. Each file carries
    CORRUPT_PER_FILE truncated lines. Every tick after the first adds
    one renamed byte-copy of a file from the previous tick: the content
    ledger must skip it, the filename-keyed stream checkpoint reads it.
    Expected counts are cumulative per tick."""
    rng = np.random.default_rng(seed)
    names = [f"user_{i:03d}" for i in range(users)]
    tracks = [(f"Artist {a}", f"Track {a}-{t}", f"Release {a}")
              for a in range(40) for t in range(25)]
    clock = 1_700_000_000
    keys, seen_days, expected = [], set(), []
    valid = dups = corrupt = copy_rows = 0
    prev_file = None
    for k in range(ticks):
        tdir = os.path.join(out, f"tick_{k:03d}")
        os.makedirs(tdir, exist_ok=True)
        for f in range(files):
            lines = []
            zipf = np.minimum(rng.zipf(1.3, per_file), users) - 1
            for j in range(per_file):
                if keys and rng.random() < DUP_SHARE:
                    user, ts = keys[int(rng.integers(0, len(keys)))]
                    dups += 1
                else:
                    clock += int(rng.integers(1, 240))
                    user, ts = names[int(zipf[j])], clock
                    keys.append((user, ts))
                    seen_days.add((user, ts // 86400))
                artist, track, release = tracks[int(rng.integers(0, len(tracks)))]
                lines.append(json.dumps({
                    "listened_at": ts, "recording_msid": _uuid(rng),
                    "user_name": user,
                    "track_metadata": {
                        "artist_name": artist, "track_name": track,
                        "release_name": release,
                        "additional_info": {
                            "release_msid": _uuid(rng),
                            "artist_msid": _uuid(rng),
                            "recording_msid": _uuid(rng),
                            "release_mbid": None, "tags": ["rock"],
                            "tracknumber": str(j % 12 + 1)}}}))
            for c in range(CORRUPT_PER_FILE):
                pos = int(rng.integers(0, len(lines)))
                lines.insert(pos, lines[pos][: len(lines[pos]) // 2])
            valid += per_file
            corrupt += CORRUPT_PER_FILE
            path = os.path.join(tdir, f"listens_{k:03d}_{f:02d}.json")
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
        if prev_file is not None:
            # renamed copy: same bytes, new name, lands with this tick
            with open(prev_file, "rb") as src, \
                 open(os.path.join(tdir, f"copy_{k:03d}.json"), "wb") as dst:
                dst.write(src.read())
            copy_rows += per_file
        prev_file = path
        per_user = {}
        for user, day in seen_days:
            per_user[user] = per_user.get(user, 0) + 1
        expected.append({
            "tick": k, "new_files": files, "renamed_copies": int(k > 0),
            "bronze_rows": valid, "silver_rows": len(keys),
            "gold_rows": len(seen_days),
            "top3_rows": sum(min(3, d) for d in per_user.values()),
            "duplicates": dups, "corrupt_lines": corrupt,
            "stream_rows": valid + copy_rows})
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return expected
