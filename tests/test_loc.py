"""tools/loc.py counts a directory as the sum of its Python files."""

from __future__ import annotations

import os
import subprocess
import sys

from tools.loc import count, expand

_LOC = os.path.join(os.path.dirname(__file__), "..", "tools", "loc.py")


def test_directory_expands_to_sorted_python_files(tmp_path):
    (tmp_path / "pkg" / "sub").mkdir(parents=True)
    (tmp_path / "pkg" / "b.py").write_text('"""doc."""\nx = 1\n')
    (tmp_path / "pkg" / "sub" / "a.py").write_text("# note\n\ny = 2\n")
    (tmp_path / "pkg" / "notes.txt").write_text("not python\n")
    pkg = str(tmp_path / "pkg")
    files = expand([pkg])
    assert files == sorted(files) == [
        os.path.join(pkg, "b.py"), os.path.join(pkg, "sub", "a.py")
    ]
    assert expand([files[0]]) == [files[0]]

    out = subprocess.run(
        [sys.executable, _LOC, pkg], capture_output=True, text=True, check=True
    ).stdout.splitlines()
    total = tuple(map(sum, zip(*(count(f) for f in files))))
    assert total == (5, 2, 1, 1, 1)
    assert out[-1].split() == [*map(str, total), "TOTAL"]
