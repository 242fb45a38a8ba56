"""Unit-conversion algebra for grade/tonnage normalization.

Clean-room port of the conversion semantics at
`/root/reference/minmodkg/grade_tonnage_model.py:462-543`:

- tonnage is normalized to **million tonnes** (``Q202``),
- grade is normalized to **percent** (``Q201``),
- units known to be incompatible raise ``UnconvertibleUnitError`` (the
  inventory is silently skipped by the model), anything unknown is a hard
  ``NotImplementedError`` (data bug — surfaced, not swallowed).

A scalar form: the grade-tonnage model calls it per inventory, inside
the document pass's Arrow batches.
"""

from __future__ import annotations

MR = "https://minmod.isi.edu/resource/"

UNIT_TONNES = MR + "Q200"
UNIT_MT = MR + "Q202"  # million tonnes (canonical tonnage unit)
UNIT_M_SHORT_TONS = MR + "Q213"
UNIT_SHORT_TONS = MR + "Q214"
UNIT_M_LBS = MR + "Q215"
UNIT_PERCENT = MR + "Q201"  # canonical grade unit
UNIT_GRAMS_PER_TONNE = MR + "Q203"
UNIT_PPM = MR + "Q220"
UNIT_KG_PER_TONNE = MR + "Q217"


class UnconvertibleUnitError(Exception):
    """The unit is a real unit but not convertible to the target axis."""


# units that can never be converted to a weight (grade-like units etc.)
# ref: grade_tonnage_model.py:462-483
WEIGHT_INCOMPATIBLE = {
    MR + q
    for q in (
        "Q201 Q203 Q204 Q205 Q207 Q208 Q209 Q210 Q212 Q216 Q217 Q220 "
        "Q206 Q211 Q221 Q218 Q219"
    ).split()
}
# units that can never be converted to percent
# ref: grade_tonnage_model.py:484-506
PERCENT_INCOMPATIBLE = {
    MR + q
    for q in (
        "Q200 Q202 Q204 Q205 Q206 Q207 Q208 Q209 Q210 Q211 Q212 Q213 "
        "Q214 Q215 Q216 Q218 Q219 Q221"
    ).split()
}

# conversion ops, BIT-EXACT to the reference's arithmetic
# (grade_tonnage_model.py:509-543): the reference DIVIDES by the listed
# divisors in sequence (or multiplies, for Q215) — multiplying by a
# precomputed reciprocal instead diverges by ~1 ulp, which is enough to
# flip a round(x, 6) boundary (caught by the kg_cdr_export oracle).
# entry = ("div", (d1, d2, ...)) → value / d1 / d2 ...; ("mul", (m,)) →
# value * m.
TO_MT_OPS = {
    UNIT_MT: ("mul", (1.0,)),
    UNIT_TONNES: ("div", (1_000_000.0,)),
    UNIT_M_SHORT_TONS: ("div", (1.10231,)),
    UNIT_SHORT_TONS: ("div", (1_000_000.0, 1.10231)),
    UNIT_M_LBS: ("mul", (0.000454,)),
}
TO_PERCENT_OPS = {
    UNIT_PERCENT: ("mul", (1.0,)),
    UNIT_GRAMS_PER_TONNE: ("div", (10_000.0,)),
    UNIT_PPM: ("div", (10_000.0,)),
    UNIT_KG_PER_TONNE: ("div", (10.0,)),
}


def _apply_ops(value: float, op) -> float:
    kind, factors = op
    if kind == "mul":
        for f in factors:
            value = value * f
    else:
        for f in factors:
            value = value / f
    return value


def unit_conversion(value: float, unit: str, to_unit: str) -> float:
    """Scalar conversion, exact reference semantics
    (grade_tonnage_model.py:509-543)."""
    if unit == to_unit:
        return value
    if to_unit == UNIT_MT:
        if unit in TO_MT_OPS:
            return _apply_ops(value, TO_MT_OPS[unit])
        if unit in WEIGHT_INCOMPATIBLE:
            raise UnconvertibleUnitError((value, unit, to_unit))
        raise NotImplementedError((value, unit, to_unit))
    if to_unit == UNIT_PERCENT:
        if unit in TO_PERCENT_OPS:
            return _apply_ops(value, TO_PERCENT_OPS[unit])
        if unit in PERCENT_INCOMPATIBLE:
            raise UnconvertibleUnitError((value, unit, to_unit))
        raise NotImplementedError((value, unit, to_unit))
    raise NotImplementedError((value, unit, to_unit))
