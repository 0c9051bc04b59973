"""SQL-text WKB kernel: exact ``ST_Intersects`` / ``ST_Within`` against an
axis-aligned box, decided in the JVM.

``filter_bbox`` settles most rows of a window from the bbox sidecars and
sends only the boundary band to an exact test (the reference's R-tree scan,
``rtree_index_plan_scan.cpp:207-231``). This module builds that exact test
as one Spark SQL expression, so the band is decided with no Python task.
It reads everything :mod:`~duckdb_spatial_spark.geo.wkb` reads:

* Point, LineString, Polygon (with holes), the Multi* types and
  GeometryCollection, nested to any depth;
* both byte orders, ISO Z / M / ZM type codes, and EWKB flags (the SRID is
  skipped);
* EMPTY geometries.

**Parse.** One bounded-step walk: an ``aggregate`` over ``octet_length``
steps whose state holds the byte offset, the count of geometry headers
still to read, the rings left in the current polygon and the phase of the
token being read (see :func:`_fold`). Bytes that do not parse fail the
query (``raise_error``), as the UDF's ``WKBParseError`` does; they never
give an answer.

**Decode.** Doubles decode bit-exactly with no bit-cast function: the 8
bytes as a signed bigint (``conv(hex, 16, -10)``; a little-endian value
reads from the byte-reversed hex of the whole value), then sign, exponent
and mantissa arithmetic: a subnormal is ``m * 2^-1074``, exponent 2047 is
±inf or NaN.

**Decide.** Each coordinate sequence the walk meets is folded at once, by
an inner ``aggregate`` over its vertices, into a predicate state that
mirrors :func:`~duckdb_spatial_spark.geo.algorithms.intersects` and
``within`` against the box's polygon:

* intersects: some segment meets the closed box (bbox overlap, and the four
  corners not all strictly on one side of the segment, with the orientation
  arithmetic of ``segs_intersect_matrix``), or the corner ``(x0, y0)`` lies
  inside a polygon (ray-crossing parity of ``point_in_ring``: odd for the
  shell, even for every hole);
* within, for rows whose bbox lies in the closed box (``filter_bbox``'s
  prefilter): some point, line or shell vertex lies strictly inside, or a
  line segment's midpoint does, or a shell has non-zero area. A box of zero
  width or height contains nothing (``ST_Within`` needs an interior). The
  area term stands in for the kernel's interior point of a polygon; the two
  agree on simple rings.

A one-vertex sequence is the zero-length segment at its vertex.

**Cost.** Higher-order functions are interpreted per element, so the
kernel belongs behind a short-circuiting sure-true term, on the few rows
of the boundary band only. Plan time is the cost that counts: Catalyst
resolves nested lambdas about one level per analyzer pass, and every pass
and optimizer rule walks the whole expression. So the kernel is two
lambdas deep (the walk, and the fold of one sequence), binds no value
through a lambda of its own, and keeps its text compact.
"""

from __future__ import annotations

# 2^52 - 1: the mantissa bits of a double
_MANT = "4503599627370495"


def _hex(off: str, nbytes: int, le: str) -> str:
    """Big-endian hex digits of the ``nbytes`` bytes at byte offset ``off``
    of the WKB ``_w.g``, read in the byte order ``le``: a little-endian
    value reads from the byte-reversed hex ``_w.g.r``, where it appears in
    big-endian order."""
    return (f"substr(IF({le}, _w.g.r, _w.g.h), IF({le}, 2 * _w.g.l - {2 * nbytes - 1}, 1)"
            f" + IF({le}, -2, 2) * ({off}), {2 * nbytes})")


def _u32(off: str, le: str) -> str:
    return f"CAST(conv({_hex(off, 4, le)}, 16, 10) AS BIGINT)"


def _f64(bits: str) -> str:
    """The IEEE double with the bit pattern ``bits`` (a bigint), bit-exact
    (NaN payloads aside): ``±(m + 2^52) * 2^(e - 1075)``, or ``±m *
    2^-1074`` for a subnormal. Each factor and product is exact; exponent
    2047 overflows to ±inf, and a NaN factor marks a non-zero mantissa
    there."""
    e = f"(shiftright({bits}, 52) & 2047L)"
    m = f"({bits} & {_MANT})"
    return (
        f"IF({bits} < 0L, -1D, 1D) * ({m} + IF({e} = 0L, 0L, 4503599627370496L))"
        f" * pow(2D, greatest({e}, 1L) - 1075L) * IF({e} = 2047L AND {m} > 0L, double('NaN'), 1D)"
    )


def _struct(fields: dict) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


# the vertex bookkeeping of a sequence's fold, a three-stage pipeline over
# the count i of steps taken: step i reads the bits w of double i, decodes
# the bits read one step earlier into v, and hands the double decoded one
# step earlier still (double i - 2, now in _b.v) to the predicate. u keeps
# the last double handed over (the x of the vertex being read) and (x, y)
# the last complete vertex.
_BOOK = {"x": "0D", "y": "0D", "u": "0D", "w": "0L", "v": "0D", "i": "0"}
_ODD = "_b.i % 2 = 1 AND _b.i > 2"  # _b.v is a y: the vertex (_b.u, _b.v) is complete
_SEG = "_b.i % 2 = 1 AND _b.i > 4"  # ... and follows the vertex (_b.x, _b.y)


def _fold(geom: str, zero: dict, start: dict, step: dict, end: dict, result: str) -> str:
    """SQL text folding the coordinate sequences of the WKB ``geom`` in
    file order, for a predicate state ``_w.z`` that starts as ``zero``.

    Each sequence — of kind ``_w.y``: 1 point, 2 line, 8 shell, 9 hole —
    opens with ``start``, takes each double ``_b.v`` through ``step``
    (state ``_b``; where ``_ODD`` holds, the vertex ``(_b.u, _b.v)`` is
    complete, and where ``_SEG`` holds, it follows the vertex
    ``(_b.x, _b.y)``) and closes with ``end``;
    ``result`` reads the final ``_w.z``. A lone vertex is read twice (the
    zero-length segment at it); once ``r`` is set, no further double is
    read.

    The walk is one ``aggregate`` over ``octet_length`` steps; each step
    does one thing, chosen by the phase ``_w.y``:

    * -1: read a ring count of the current polygon (kind 8 or 9 next), else
      the next header's byte order (phase -3), else nothing;
    * -3: read the type code;
    * -2: split the code into base type and dimension (ISO thousands, or
      EWKB flag bits with the SRID skipped), phase base + 20;
    * base + 20: fail on an unknown type; a point is one vertex, any other
      type reads a count next (phase base + 10);
    * base + 10: read the count;
    * 1, 2, 8, 9: fold the sequence; 3: open the polygon's rings; 4-7: add
      the children to the headers left ``_w.p``.

    A header takes at most 6 steps for its at least 9 bytes and a ring 2
    for its at least 4, so the steps always suffice; bytes left unread,
    a step past the end or an unknown type code fail the query. The WKB
    enters the walk's state once, as ``_w.g``: its hex ``h``, byte-reversed
    hex ``r`` and length ``l`` (a column read inside a lambda costs the
    analyzer far more than a lambda variable does, and a lambda of its own
    would add a level)."""
    code = "_w.n"
    base = f"CAST(IF({code} >= 536870912L, {code} & 65535L, {code} % 1000L) AS INT)"
    # ISO Z/M/ZM thousands, or the EWKB Z and M flag bits
    dim = (f"2L + bit_count(IF({code} >= 536870912L, shiftright({code}, 30),"
           f" IF({code} < 4000L, {code} DIV 1000L, 0L)))")
    # two steps flush the pipeline; a lone vertex is read twice
    steps = "CAST(IF(_w.z.r, 0L, IF(_w.n = 1L, 6L, 2L * _w.n + 2L)) AS INT)"
    off = "_w.o + 8L * _w.d * IF(_w.n = 1L, 0L, _b.i DIV 2) + 8L * (_b.i % 2)"
    moved = {"x": "IF(_b.i % 2 = 1, _b.u, _b.x)", "y": "IF(_b.i % 2 = 1, _b.v, _b.y)", "u": "_b.v",
             "w": f"CAST(conv({_hex(off, 8, '_w.e')}, 16, -10) AS BIGINT)", "v": _f64("_b.w"), "i": "_b.i + 1"}
    seq = (f"aggregate(array_repeat(0, {steps}), {_struct({**start, **_BOOK})},"
           f" (_b, _v) -> IF(_b.r, _b, {_struct({**step, **moved})}), _b -> {_struct({**end, **_BOOK})})")
    walk = {
        "g": "_w.g",
        "o": ("_w.o + CASE WHEN _w.y = -1 THEN IF(_w.k > 0L, 4L, 1L)"
              f" WHEN _w.y = -2 THEN IF(({code} & 536870912L) > 0L, 4L, 0L)"
              " WHEN _w.y = -3 OR _w.y BETWEEN 12 AND 17 THEN 4L"
              " WHEN _w.y IN (1, 2, 8, 9) THEN 8L * _w.d * _w.n ELSE 0L END"),
        "p": "_w.p + CASE WHEN _w.y BETWEEN 4 AND 7 THEN _w.n WHEN _w.y = -3 THEN -1L ELSE 0L END",
        "k": "CASE WHEN _w.y = 3 THEN _w.n WHEN _w.y IN (8, 9) THEN _w.k - 1L ELSE _w.k END",
        "q": "CASE WHEN _w.y = 3 THEN true WHEN _w.y = -1 THEN false ELSE _w.q END",
        "e": "IF(_w.y = -1 AND _w.k = 0L, substr(_w.g.h, 2 * _w.o + 1, 2) = '01', _w.e)",
        "d": f"IF(_w.y = -2, {dim}, _w.d)",
        "y": ("CASE WHEN _w.y >= 20 THEN IF(_w.y <= 27, IF(_w.y = 21, 1, _w.y - 10),"
              f" raise_error(concat('unknown WKB geometry type code ', {code})))"
              " WHEN _w.y = -1 THEN IF(_w.k > 0L, IF(_w.q, 8, 9), -3) WHEN _w.y = -3 THEN -2"
              f" WHEN _w.y = -2 THEN {base} + 20 ELSE IF(_w.y > 9, _w.y - 10, -1) END"),
        "n": (f"CASE WHEN (_w.y = -1 AND _w.k > 0L) OR _w.y = -3 OR _w.y BETWEEN 12 AND 17 THEN {_u32('_w.o', '_w.e')}"
              " WHEN _w.y >= 20 THEN 1L ELSE _w.n END"),
        "z": f"IF(_w.y IN (1, 2, 8, 9), {seq}, _w.z)",
    }
    zero_walk = {"g": f"named_struct('h', hex({geom}), 'r', regexp_replace(reverse(hex({geom})), '(.)(.)', '$2$1'),"
                      f" 'l', octet_length({geom}))",
                 "o": "0L", "p": "1L", "k": "0L", "q": "false", "e": "false", "d": "2L", "y": "-1", "n": "0L",
                 "z": _struct({**zero, **_BOOK})}
    return (
        f"aggregate(array_repeat(0, octet_length({geom})), {_struct(zero_walk)},"
        f" (_w, _c) -> IF(_w.y = -1 AND _w.k = 0L AND _w.p = 0L, _w, {_struct(walk)}),"
        f" _w -> IF(coalesce(_w.o <= _w.g.l AND _w.p = 0L AND _w.k = 0L AND _w.y = -1, false), {result},"
        " raise_error('truncated or malformed WKB')))"
    )


def intersects(geom: str, box: tuple) -> str:
    """SQL text: ``ST_Intersects(geom, box)`` for a WKB column expression
    ``geom`` and a normalized box ``(x0, y0, x1, y1)`` of finite double
    literals (SQL text). State: ``r`` decided true, ``c`` the corner is
    inside the current polygon so far, ``p`` the crossing parity of the
    current ring."""
    x0, y0, x1, y1 = box
    # the segment (_b.x, _b.y) -> (_b.u, _b.v) meets the closed box when
    # their bboxes overlap (one comparison: a - b <= 0 iff a <= b for
    # finite doubles) and the orientation of the segment to the corners is
    # not of one strict sign; rounding is monotone, so the corners chosen
    # by the direction's signs give the least and the greatest of the four
    # computed orientations
    def side(cx, cy):
        return f"(_b.u - _b.x) * ({cy} - _b.y) - (_b.v - _b.y) * ({cx} - _b.x)"

    lo = side(f"IF(_b.v >= _b.y, {x1}, {x0})", f"IF(_b.u >= _b.x, {y0}, {y1})")
    hi = side(f"IF(_b.v >= _b.y, {x0}, {x1})", f"IF(_b.u >= _b.x, {y1}, {y0})")
    meets = (
        f"greatest(least(_b.x, _b.u) - {x1}, {x0} - greatest(_b.x, _b.u),"
        f" least(_b.y, _b.v) - {y1}, {y0} - greatest(_b.y, _b.v)) <= 0D AND {lo} <= 0D AND {hi} >= 0D"
    )
    crosses = (
        f"CASE WHEN (_b.y <= {y0}) <> (_b.v <= {y0})"
        f" THEN _b.x + ({y0} - _b.y) * (_b.u - _b.x) / (_b.v - _b.y) > {x0} ELSE false END"
    )
    return _fold(
        geom,
        {"r": "false", "c": "false", "p": "false"},
        # a shell, point or line closes the previous polygon
        {"r": "_w.z.r OR (_w.y < 9 AND _w.z.c)", "c": "_w.y = 9 AND _w.z.c", "p": "false"},
        {"r": f"_b.r OR ({_SEG} AND {meets})", "c": "_b.c", "p": f"_b.p <> ({_SEG} AND {crosses})"},
        {"r": "_b.r", "c": "CASE _w.y WHEN 8 THEN _b.p WHEN 9 THEN _b.c AND NOT _b.p ELSE false END",
         "p": "false"},
        "_w.z.r OR _w.z.c",
    )


def within(geom: str, box: tuple) -> str:
    """SQL text: ``ST_Within(geom, box)`` for a WKB column expression
    ``geom`` whose bbox lies inside the closed, normalized box
    ``(x0, y0, x1, y1)`` of finite double literals (SQL text), as for the
    rows ``filter_bbox``'s within prefilter keeps. ``false`` for a box of
    zero width or height. State: ``r`` decided true, ``a`` twice the
    signed area of the current ring so far."""
    x0, y0, x1, y1 = box
    if x0 == x1 or y0 == y1:  # equal literals: equal doubles
        return "false"

    def inside(x, y):
        return f"least({x} - {x0}, {x1} - {x}, {y} - {y0}, {y1} - {y}) > 0D"

    return _fold(
        geom,
        {"r": "false", "a": "0D"},
        {"r": "_w.z.r", "a": "0D"},
        {"r": f"_b.r OR ({_ODD} AND _w.y < 9 AND {inside('_b.u', '_b.v')})"
              f" OR (_w.y = 2 AND {_SEG} AND {inside('(_b.x + _b.u) / 2', '(_b.y + _b.v) / 2')})",
         "a": f"_b.a + IF({_SEG}, _b.x * _b.v - _b.u * _b.y, 0D)"},
        {"r": "_b.r OR (_w.y = 8 AND _b.a <> 0D)", "a": "0D"},
        "_w.z.r",
    )
