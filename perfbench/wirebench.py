"""Single-process timings of the wire layer on a fixed blob sample.

Decode direction: ``frame.decompress_payload`` (inflate), then
``osmformat.parse_primitive_block`` (varint/string-table parse), then the
whole of ``decode.decode_blob_payload``; Arrow build is the whole minus
inflate and parse. Encode direction: the block builders plus
``osmformat.build_primitive_block``, then ``frame.compress_payload``.
Each call is repeated and its median taken; the metrics are sums over the
sample.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 3


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _builder_inputs(block):
    """Parsed block → the arguments the osmformat builders take."""
    from pbf_spark.wire import osmformat

    strings = block.strings
    sid = {s: i for i, s in enumerate(strings.tolist())}
    table = strings.tolist()

    def tags(soa, i):
        a, b = soa.tag_off[i], soa.tag_off[i + 1]
        return [(strings[k], strings[v]) for k, v in zip(soa.tag_key[a:b], soa.tag_val[a:b])]

    def info_dict(inf, i):
        return {
            "version": int(inf.version[i]), "ts_ms": int(inf.ts_ms[i]), "changeset": int(inf.changeset[i]),
            "uid": int(inf.uid[i]), "user": strings[inf.user_sid[i]], "visible": bool(inf.visible[i]),
        }

    groups = []
    n = block.nodes
    if len(n):
        inf = n.info
        info = None
        if inf is not None:
            info = {
                "version": inf.version, "ts_ms": inf.ts_ms, "changeset": inf.changeset, "uid": inf.uid,
                "user": strings[inf.user_sid].tolist(), "visible": inf.visible.astype(np.int64),
            }
        args = (
            n.id,
            osmformat.nano_degrees(n.lat_coord, block.lat_offset, block.granularity),
            osmformat.nano_degrees(n.lon_coord, block.lon_offset, block.granularity),
            [tags(n, i) for i in range(len(n))],
            sid,
        )
        groups.append(lambda: osmformat.build_dense_nodes_group(*args, info=info))
    w = block.ways
    if len(w):
        ways = [
            {
                "id": int(w.id[i]),
                "refs": w.refs[w.ref_off[i] : w.ref_off[i + 1]],
                "tags": tags(w, i),
                "info": info_dict(w.info, i) if w.info is not None else None,
            }
            for i in range(len(w))
        ]
        groups.append(lambda: osmformat.build_ways_group(ways, sid))
    r = block.relations
    if len(r):
        mtype = r.mem_type
        rels = [
            {
                "id": int(r.id[i]),
                "tags": tags(r, i),
                "info": info_dict(r.info, i) if r.info is not None else None,
                "members": [
                    {"ref": int(r.mem_ref[j]), "type": int(mtype[j]), "role": strings[r.mem_role[j]]}
                    for j in range(r.mem_off[i], r.mem_off[i + 1])
                ],
            }
            for i in range(len(r))
        ]
        groups.append(lambda: osmformat.build_relations_group(rels, sid))
    return groups, table


def wire_layer(blobs: list[tuple[str, bytes, int]]) -> dict[str, float]:
    """``blobs``: (codec, compressed payload, raw size) of OSMData blobs."""
    from pbf_spark.operators import decode
    from pbf_spark.wire import frame, osmformat

    out = dict.fromkeys(
        ["wire.inflate_s", "wire.parse_s", "decode.arrow_build_s", "wire.build_block_s", "wire.deflate_s"], 0.0
    )
    out.update({"wire.blobs": float(len(blobs)), "wire.bytes_in": 0.0, "wire.bytes_raw": 0.0})
    for codec, payload, raw_size in blobs:
        raw = frame.decompress_payload(codec, payload, raw_size)
        block = osmformat.parse_primitive_block(raw)
        inflate = _median_time(lambda: frame.decompress_payload(codec, payload, raw_size), REPS)
        parse = _median_time(lambda: osmformat.parse_primitive_block(raw), REPS)
        whole = _median_time(lambda: decode.decode_blob_payload(payload, codec, raw_size), REPS)
        out["wire.inflate_s"] += inflate
        out["wire.parse_s"] += parse
        out["decode.arrow_build_s"] += max(whole - inflate - parse, 0.0)
        out["wire.bytes_in"] += len(payload)
        out["wire.bytes_raw"] += len(raw)

        groups, table = _builder_inputs(block)
        built = osmformat.build_primitive_block([g() for g in groups], table)
        out["wire.build_block_s"] += _median_time(
            lambda: osmformat.build_primitive_block([g() for g in groups], table), REPS
        )
        out["wire.deflate_s"] += _median_time(lambda: frame.compress_payload(built, codec), REPS)
    return out
