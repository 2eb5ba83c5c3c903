"""Source scan: the AQE flip and the loop-width heuristic each have one
home, ``utils/repartition.py`` (``static_loop_planning`` and
``loop_parts``), so twin copies cannot creep back into the operators."""

from __future__ import annotations

from pathlib import Path

import datapipelines_essentials_python_spark as pkg

PKG = Path(pkg.__file__).resolve().parent
HOME = PKG / "utils" / "repartition.py"
SESSION_DEFAULT = '"spark.sql.adaptive.enabled": "true",'


def _modules():
    return [p for p in sorted(PKG.rglob("*.py")) if p != HOME]


def test_aqe_flag_is_written_only_by_utils_repartition():
    offenders = []
    for path in _modules():
        for n, line in enumerate(path.read_text().splitlines(), start=1):
            if "spark.sql.adaptive.enabled" not in line:
                continue
            # the session factory's default conf entry is the one allowed
            if path.name == "session.py" and line.strip() == SESSION_DEFAULT:
                continue
            offenders.append(f"{path.relative_to(PKG)}:{n}")
    assert offenders == []


def test_loop_width_formula_lives_only_in_utils_repartition():
    offenders = [
        str(p.relative_to(PKG))
        for p in _modules()
        if "// 100_000 + 1" in p.read_text()
    ]
    assert offenders == []
    assert "// 100_000 + 1" in HOME.read_text()
