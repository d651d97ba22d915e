"""Unit tests for the hand-rolled protobuf wire codec (no Spark)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hs

from osmspark.pbf.encode import (
    _len_field, _string_table, _varint_field, encode_packed_varints, zigzag_encode)
from osmspark.pbf.wire import (
    decode_packed_sint64,
    decode_packed_varints,
    read_field,
    read_varint,
    zigzag_decode,
)


def test_varint_roundtrip_extremes():
    v = np.array(
        [0, 1, -1, 2, -2, 127, 128, -128, 2**31, -(2**31), 2**62, -(2**62),
         np.iinfo(np.int64).max, np.iinfo(np.int64).min],
        dtype=np.int64,
    )
    enc = encode_packed_varints(zigzag_encode(v))
    assert np.array_equal(decode_packed_sint64(enc), v)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(7)
    for scale in (2**7, 2**20, 2**40, 2**62):
        v = rng.integers(-scale, scale, 5000).astype(np.int64)
        enc = encode_packed_varints(zigzag_encode(v))
        assert np.array_equal(decode_packed_sint64(enc), v)


def test_zigzag_identity():
    v = np.array([-3, -2, -1, 0, 1, 2, 3], dtype=np.int64)
    assert np.array_equal(zigzag_decode(zigzag_encode(v)), v)
    # published zigzag mapping: 0→0, -1→1, 1→2, -2→3, 2→4
    assert list(zigzag_encode(np.array([0, -1, 1, -2, 2]))) == [0, 1, 2, 3, 4]


def test_truncated_packed_raises():
    with pytest.raises(ValueError):
        decode_packed_varints(b"\x80\x80")  # continuation bit never cleared


def test_read_varint_scalar():
    assert read_varint(b"\x00", 0) == (0, 1)
    assert read_varint(b"\xac\x02", 0) == (300, 2)


def test_iter_fields_mixed():
    # field 1 varint=5, field 2 bytes='abc', walked with read_field
    buf = b"\x08\x05\x12\x03abc"
    fields, pos = [], 0
    while pos < len(buf):
        f, w, v, _, pos = read_field(memoryview(buf), pos)
        fields.append((f, w, bytes(v) if w == 2 else v))
    assert fields == [(1, 0, 5), (2, 2, b"abc")]


def test_empty_packed():
    assert decode_packed_varints(b"").size == 0
    assert encode_packed_varints(np.empty(0, dtype=np.uint64)) == b""


# --------------------------------------------------------------------------
# way/relation groups: decoded values equal the values encoded
# --------------------------------------------------------------------------

ENCODINGS = ("packed", "unpacked", "split", "mixed")


def _repeated(field_no, values, how, signed):
    """One repeated varint field: one packed chunk, one unpacked value per
    occurrence, two packed chunks ("split"), or the first value unpacked
    and the rest packed ("mixed")."""
    enc = (zigzag_encode(np.asarray(values, dtype=np.int64)) if signed
           else np.asarray(values, dtype=np.uint64))
    if how == "unpacked":
        return b"".join(_varint_field(field_no, int(u)) for u in enc)
    if how == "split" and len(enc) > 1:
        return (_len_field(field_no, encode_packed_varints(enc[:1]))
                + _len_field(field_no, encode_packed_varints(enc[1:])))
    if how == "mixed" and len(enc) > 0:
        return (_varint_field(field_no, int(enc[0]))
                + _len_field(field_no, encode_packed_varints(enc[1:])))
    return _len_field(field_no, encode_packed_varints(enc))


def _deltas(values):
    return np.diff(np.concatenate([[0], values])).astype(np.int64)


def _way(wid, refs, tags, refs_how="packed", tags_how="packed"):
    return (_varint_field(1, wid)
            + _repeated(2, [k for k, _ in tags], tags_how, False)
            + _repeated(3, [v for _, v in tags], tags_how, False)
            + _repeated(8, _deltas(refs), refs_how, True))


def _relation(rid, members, tags, members_how="packed", tags_how="packed"):
    """``members``: (type 0|1|2, ref, role string id) triples."""
    return (_varint_field(1, rid)
            + _repeated(2, [k for k, _ in tags], tags_how, False)
            + _repeated(3, [v for _, v in tags], tags_how, False)
            + _repeated(8, [m[2] for m in members], members_how, False)
            + _repeated(9, _deltas([m[1] for m in members]), members_how, True)
            + _repeated(10, [m[0] for m in members], members_how, False))


def _decode_groups(strings, ways=(), relations=()):
    """A PrimitiveBlock with a ways group and/or a relations group."""
    from osmspark.pbf.decode import decode_primitive_block

    block = _len_field(1, _string_table(strings))
    for tag, msgs in ((3, ways), (4, relations)):
        if msgs:
            block += _len_field(2, b"".join(_len_field(tag, m) for m in msgs))
    return decode_primitive_block(block).groups


def _assert_ways(g, strings, ways):
    """``ways``: (id, refs, tags as (key id, val id) pairs) per way."""
    c = g.cols
    assert g.kind == "ways" and c["n"] == len(ways)
    ro, to = c["ref_offsets"], c["tag_offsets"]
    for i, (wid, refs, tags) in enumerate(ways):
        assert c["id"][i] == wid
        assert c["refs"][ro[i]:ro[i + 1]].tolist() == list(refs)
        assert list(zip(c["tag_keys"][to[i]:to[i + 1]], c["tag_vals"][to[i]:to[i + 1]])) \
            == [(strings[k], strings[v]) for k, v in tags]


def _assert_relations(g, strings, relations):
    """``relations``: (id, members, tags) per relation."""
    c = g.cols
    assert g.kind == "relations" and c["n"] == len(relations)
    mo, to = c["member_offsets"], c["tag_offsets"]
    for i, (rid, members, tags) in enumerate(relations):
        assert c["id"][i] == rid
        got = list(zip(c["member_types"][mo[i]:mo[i + 1]],
                       c["member_refs"][mo[i]:mo[i + 1]].tolist(),
                       c["member_roles"][mo[i]:mo[i + 1]]))
        assert got == [(("node", "way", "relation")[t], ref, strings[role])
                       for t, ref, role in members]
        assert list(zip(c["tag_keys"][to[i]:to[i + 1]], c["tag_vals"][to[i]:to[i + 1]])) \
            == [(strings[k], strings[v]) for k, v in tags]


def test_ways_group_decode_matches_encoded():
    """A ways group decodes to the ids, refs and tags its messages encode,
    whether refs are packed, unpacked, split over two packed chunks (which
    a batched decode could mis-split) or empty."""
    strings = ["", "highway", "residential", "name", "Main St"]
    ways = [
        (1, [10, 12, 9], [(1, 2)], "packed"),
        (2, [100], [(1, 2), (3, 4)], "packed"),
        (3, [5, 6, 7, 8], [], "unpacked"),
        (4, [-3, 20, 19], [(3, 4)], "split"),
        (5, [], [], "packed"),
    ]
    [g] = _decode_groups(strings, ways=[_way(i, r, t, how) for i, r, t, how in ways])
    _assert_ways(g, strings, [w[:3] for w in ways])


def test_relations_group_decode_matches_encoded():
    """A relations group decodes to the ids, members and tags its messages
    encode: packed, unpacked, split member columns, and no members."""
    strings = ["", "route", "bus", "stop", "platform"]
    relations = [
        (1, [(0, 100, 3), (1, 200, 4)], [(1, 2)], "packed"),
        (2, [(2, 50, 3)], [], "packed"),
        (3, [(0, 7, 4), (1, 8, 3), (2, 9, 4)], [(1, 2)], "unpacked"),
        (4, [(1, -5, 3), (0, 30, 4)], [], "split"),
        (5, [], [], "packed"),
    ]
    [g] = _decode_groups(strings, relations=[
        _relation(i, m, t, how) for i, m, t, how in relations])
    _assert_relations(g, strings, [r[:3] for r in relations])


def test_groups_without_refs_or_members_decode_empty():
    """A ways group in which no way has refs, and a relations group in
    which no relation has members, decode to empty lists (the delta
    decode once indexed into an empty prefix sum)."""
    strings = ["", "k", "v"]
    ways = [(1, [], [(1, 2)]), (2, [], [])]
    relations = [(7, [], []), (8, [], [(1, 2)])]
    gw, gr = _decode_groups(
        strings, ways=[_way(*w) for w in ways],
        relations=[_relation(*r) for r in relations])
    _assert_ways(gw, strings, ways)
    _assert_relations(gr, strings, relations)
    assert gw.cols["ref_offsets"].tolist() == [0, 0, 0]
    assert gr.cols["member_offsets"].tolist() == [0, 0, 0]


_ids = hs.integers(0, 2**62)
_coords = hs.integers(-(2**40), 2**40)  # refs span negative deltas
_tags = hs.lists(hs.tuples(hs.integers(1, 4), hs.integers(1, 4)), max_size=4)
_how = hs.sampled_from(ENCODINGS)


@settings(max_examples=50, deadline=None)
@given(
    ways=hs.lists(hs.tuples(_ids, hs.lists(_coords, max_size=6), _tags, _how, _how),
                  min_size=1, max_size=5),
    relations=hs.lists(hs.tuples(
        _ids, hs.lists(hs.tuples(hs.integers(0, 2), _coords, hs.integers(0, 4)),
                       max_size=5), _tags, _how, _how), min_size=1, max_size=5),
)
def test_group_decode_roundtrip(ways, relations):
    """Any mix of packed, unpacked, split and mixed encodings per field,
    with negative deltas and empty lists, decodes to the encoded values."""
    strings = ["", "a", "b", "c", "d"]
    gw, gr = _decode_groups(strings, ways=[_way(*w) for w in ways],
                            relations=[_relation(*r) for r in relations])
    _assert_ways(gw, strings, [w[:3] for w in ways])
    _assert_relations(gr, strings, [r[:3] for r in relations])
