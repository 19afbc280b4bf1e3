#!/usr/bin/env python3
"""Count the helper processes a command forks.

    python3 tools/forks.py <cmd> [args ...]

Runs `<cmd>` with a PATH whose first directory holds logging shims for
`chmod`, `readlink`, `ls`, `stat` and `chown`. Each shim records its name
and then execs the real program, so the command behaves as before. After
the command exits, prints one `<name> <execs>` line per shim to stderr
(stdout stays the command's own) and exits with the command's exit code.

Hadoop's local FileSystem runs these programs as child processes when the
native Hadoop library is missing (`chmod` on each created file and
directory, `readlink` on each link-status lookup, `ls`/`stat` for owner
and permission reads), which is what this tool is for, e.g.

    python3 tools/forks.py python3 perfbench/run.py --workload ingest --seed 3
"""
import os
import shutil
import subprocess
import sys
import tempfile

SHIMMED = ("chmod", "readlink", "ls", "stat", "chown")


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with tempfile.TemporaryDirectory(prefix="forks-") as tmp:
        shims, log = os.path.join(tmp, "bin"), os.path.join(tmp, "execs.log")
        os.mkdir(shims)
        open(log, "w").close()
        for name in SHIMMED:
            real = shutil.which(name)
            if real is None:
                continue
            path = os.path.join(shims, name)
            with open(path, "w") as fh:
                # one short line per exec: O_APPEND writes do not interleave
                fh.write(f'#!/bin/sh\necho {name} >> "{log}"\nexec "{real}" "$@"\n')
            os.chmod(path, 0o755)
        env = dict(os.environ, PATH=shims + os.pathsep + os.environ.get("PATH", ""))
        code = subprocess.call(argv, env=env)
        with open(log) as fh:
            names = [line.strip() for line in fh]
    for name in SHIMMED:
        print(f"[forks] {name} {names.count(name)}", file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
