"""Shared scratch-directory resolution for filesystem-roundtrip faces.

The sink/merge roundtrip queries (q70, q86) need a real
on-disk path that (a) survives outside any test tmpdir so the driver
gate and bench can run them, (b) is keyed by sf so gate and bench runs
never collide, and (c) is gitignored. One resolver instead of three
copies of the repo-root dirname walk.
"""

from __future__ import annotations

import os
import re


def scratch_dir(name: str, sf_dir: str) -> str:
    """``<repo root>/.sink_roundtrip/<name>_<sf tag>`` (not created)."""
    sf_tag = re.sub(r"[^A-Za-z0-9_.]", "_",
                    os.path.basename(sf_dir.rstrip("/")))
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        ".sink_roundtrip", f"{name}_{sf_tag}",
    )
