#!/usr/bin/env python3
"""Print the two size numbers ROADMAP.md tracks for `src/main`.

    python3 tools/src_size.py [REPO_ROOT]

Line 1: the line count of every `.scala` file under `src/main` (what
`wc -l` over `src/main/**/*.scala` totals). Line 2: the number of
`def main` entry points among them, with the files that hold them.
REPO_ROOT defaults to the repository this script lives in.
"""
import pathlib
import re
import sys

MAIN = re.compile(r"^\s*def main\s*\(", re.MULTILINE)


def main() -> None:
    root = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else pathlib.Path(__file__).resolve().parent.parent
    files = sorted((root / "src" / "main").rglob("*.scala"))
    if not files:
        sys.exit(f"no .scala files under {root / 'src' / 'main'}")
    lines = 0
    mains = []
    for f in files:
        text = f.read_text(encoding="utf-8")
        lines += text.count("\n")
        mains += [str(f.relative_to(root))] * len(MAIN.findall(text))
    print(f"src/main lines: {lines} ({len(files)} .scala files)")
    print(f"main entry points: {len(mains)} ({', '.join(mains)})")


if __name__ == "__main__":
    main()
