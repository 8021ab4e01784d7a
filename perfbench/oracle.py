"""Output check for the catalog workloads.

Compares every dumped query result with its DuckDB oracle query through the
repo's scripts/check.py, so the compare rules (column order by name, rows
as sorted multisets, type families, rounding) are the project's own.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compare(data_dir, dump_dir):
    """Return a list of problems; empty when every oracle matched."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), data_dir, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    fails = [ln.strip() for ln in p.stdout.splitlines() if ln.lstrip().startswith("FAIL")]
    if p.returncode not in (0, 1) or (p.returncode == 1 and not fails):
        fails.append(f"check.py exited {p.returncode}: {p.stdout[-500:]}")
    return fails
