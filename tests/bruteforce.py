"""Pure-Python reference answers for the vector operators' tests.

Each helper computes its answer by exhaustive enumeration in plain
Python — no numpy, no Spark — so it shares no code path with the
operator under test.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

#: Stand-in for a NaN score: NaN != NaN, so dict equality needs a token.
NAN = "NaN"


def round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the shortest
    decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def cosine(a, b) -> float:
    """Sequential-fold cosine; NaN when either vector has a NULL element
    or a zero norm (no valid score)."""
    if a is None or b is None or None in a or None in b:
        return math.nan
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0.0 or nb == 0.0:
        return math.nan
    return d / (na * nb)


def nearest_right(left, right) -> dict:
    """Exhaustive ``semantic_join``: ``{left id: (right id, cos_sim)}``
    for (id, vector) rows.

    - the highest cosine wins; ties go to the lowest right id;
    - a NULL-element or zero-norm candidate scores NaN and loses to any
      real score;
    - a left row with no scorable candidate gets ``NAN`` and the lowest
      right id.
    """
    out = {}
    for lid, lv in left:
        best_score, best_rid = math.nan, None
        for rid, rv in sorted(right, key=lambda r: r[0]):
            c = cosine(lv, rv)
            if best_rid is None or (
                not math.isnan(c)
                and (math.isnan(best_score) or c > best_score)
            ):
                best_score, best_rid = c, rid
        out[lid] = (
            best_rid, NAN if math.isnan(best_score) else round4(best_score)
        )
    return out


def semantic_join_result(df, left_id="l_vec_id", right_id="r_vec_id") -> dict:
    """Collect a ``semantic_join`` result in :func:`nearest_right`'s form."""
    return {
        r[left_id]: (
            r[right_id],
            NAN if math.isnan(r["cos_sim"]) else r["cos_sim"],
        )
        for r in df.collect()
    }
