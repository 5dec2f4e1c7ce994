"""Physical-plan audit as a pytest — the 100 TB design rules stay
enforced in CI, not just in the tools/ CLI."""

import pathlib
import re

from eristropy_spark.plans.audit import audit_checks

SF_DIR = "/root/testdata/sf0.001"


def test_all_plan_checks_pass(spark):
    failures = [
        (name, plan[:2000])
        for name, ok, plan in audit_checks(spark, SF_DIR)
        if not ok
    ]
    assert not failures, [f[0] for f in failures]


def test_one_arrow_boundary_helper():
    """Per-signal kernels cross into Python only through
    functions/entropy_arrow.map_signals: no other engine module calls
    mapInArrow or reaches for the private view builder."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "eristropy_spark"
    home = pkg / "functions" / "entropy_arrow.py"
    offenders = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py"))
        if path != home
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.mapInArrow\(|_token_views", line)
    ]
    assert not offenders, offenders
