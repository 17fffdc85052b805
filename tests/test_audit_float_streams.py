"""String-level checks of the float-stream audit's oracle rewriting:
only ``round(<expr>, digits)`` calls lose their rounding."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.audit_float_streams import _strip_round  # noqa: E402


def test_strip_round_keeps_other_digit_arguments():
    sql = ("SELECT round((SELECT beta FROM b3), 6) AS beta, "
           "substr(x, 1, 6) AS s FROM t")
    assert _strip_round(sql, 6) == (
        "SELECT ((SELECT beta FROM b3)) AS beta, "
        "substr(x, 1, 6) AS s FROM t")


def test_strip_round_nested_and_other_digits():
    sql = "round(exp(round(b, 6)), 6), round(z, 5), ground(q, 6)"
    assert _strip_round(sql, 6) == "(exp((b))), round(z, 5), ground(q, 6)"
