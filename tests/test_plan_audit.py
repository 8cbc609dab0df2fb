"""The physical-plan audit runs in the suite: `tools/plan_audit.audit_all`
asserts each headline operator's plan property (zero Exchange and zero
Join in the quality filter, no Python in the codegen probe features and
probe scoring, ...) and raises on the first one a change breaks."""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def test_plan_audit_properties_hold(spark):
    import plan_audit

    sections = plan_audit.audit_all(spark)
    assert len(sections) == 55
    assert all(title and plan for title, _note, plan in sections)
