"""Per-document cascade kernel (exact mode).

Runs the reference-parity consume-once DFS (reference har2tree.py:879-1014)
plus the spatial fallback cascade (har2tree.py:770-853) on one document's
feature rows. The DFS is an explicit traversal — inherently sequential per
doc, exactly like the reference — but embarrassingly parallel across docs,
which is where the 10^12-doc parallelism lives.

One Spark entry point, ``cascade_doc_rows``, runs behind ``mapInArrow``
over doc rows ``(doc_id, live: list<struct<parse.KERNEL_FIELDS>>)``: one
Arrow row is one whole document, so a batch never splits a doc and no
exchange or sort has to bring a doc's spans together. A streaming
micro-batch builds the rows straight from parse's array stage
(``parse.kernel_docs``); ``cascade.resolve_exact`` collects them from the
flat feature table with one ``groupBy(doc_id)``. Each batch is cut to
about MAX_BATCH_SPANS spans, the lists are flattened, one lexsort orders
every doc by (offset, span_idx), and each doc is a numpy slice of the
sorted column views. ``cascade_batch_arrow`` is an in-process adapter
that regroups flat, sorted batches into doc rows for the same entry (the
benchmark's µs/row probe and the straddle tests); no Spark plan calls
it. The independent check is the pure-Python oracle (oracle/pycascade.py).

Float-sensitive geometry (point-in-region ray casting) calls the shared
kernels in geo/geometry.py with the same operand order as the oracle, so
results are bit-identical.
"""

from __future__ import annotations

import functools
from collections import defaultdict
from collections.abc import Iterator

import numpy as np

from har2tree_spark.geo import grid
from har2tree_spark.geo.geometry import REGION_RADIUS_DEG, hex_polygon, points_in_polygon
from har2tree_spark.operators.parse import KERNEL_FIELDS
from har2tree_spark.schema import PRIORITY

MAX_RING = 4
DANGLING_CAP = 1000

_STAGES = ("redirect", "frame", "initiator", "referer", "resource")

# the flat layout of the kernel's input (parse.KERNEL_FIELDS per span)
KERNEL_COLS = ["doc_id", *KERNEL_FIELDS]

# spans per kernel block: Spark's maxRecordsPerBatch counts doc rows, so
# the kernel cuts each doc-row batch back to the span bound the flat
# layout had (the session's 10,000 rows); a larger doc runs as one block
MAX_BATCH_SPANS = 10_000

KC_TEXT, KC_HTML, KC_CSS, KC_JS = 0, 1, 2, 3
KC_IFRAME, KC_REDIRECT = 7, 8
_RESOURCE_PARENTS = (KC_HTML, KC_CSS, KC_JS)


def _run_doc(a: dict, lo: int, hi: int) -> tuple[list[int], list[int], list[str], np.ndarray]:
    """The consume-once DFS + fallback loop over rows [lo, hi) of the
    prepared arrays (one document, already offset-ordered). Returns
    (children, parents, stages, depth) in LOCAL positions."""
    n = hi - lo
    # native python lists for the DFS hot loop: per-element numpy indexing
    # creates boxed np scalars (~5x slower than list[int] access)
    kind = a["kind"][lo:hi].tolist()
    has_media = a["has_media"][lo:hi].tolist()
    media = a["media"][lo:hi].tolist()
    key = a["key"][lo:hi].tolist()
    valid = a["valid"][lo:hi].tolist()
    lon = a["lon"][lo:hi]
    lat = a["lat"][lo:hi]
    cell = a["cell"][lo:hi]
    coarse = a["coarse"][lo:hi]
    ref_nums = [r.tolist() for r in a["ref_nums"][lo:hi]]

    # positional candidate indexes (inverted hash indexes, the
    # all_url_requests / all_referer analogue of har2tree.py:331-339);
    # int-keyed — the canonical key grammar makes key<->int a bijection
    key_pos: dict[int, list[int]] = defaultdict(list)
    media_js: dict[int, list[int]] = defaultdict(list)
    media_other: dict[int, list[int]] = defaultdict(list)
    for i in range(n):
        if key[i] >= 0:
            key_pos[key[i]].append(i)
        if media[i] >= 0:
            (media_js if kind[i] == KC_JS else media_other)[media[i]].append(i)

    # applicable stage indexes per node, precomputed once (r8 micro-opt):
    # each stage's parent-side precondition is a pure function of the
    # node's static columns, so the DFS only visits stages that CAN yield
    # candidates (typically 2 of 5) and skips frame pushes for nodes with
    # no applicable stage at all — both changes visit-order-neutral, since
    # a skipped stage/frame would have produced an empty candidate list
    # and no attachment (verified bit-identical vs the unconditioned
    # 5-stage walk on bench/hot-key/orphan/events corpora).
    stages_of: list[list[int]] = []
    for i in range(n):
        k = kind[i]
        s: list[int] = []
        if k == KC_REDIRECT and has_media[i] and media[i] >= 0:
            s.append(0)  # redirect
        if k == KC_IFRAME:
            s.append(1)  # frame
        if key[i] >= 0:
            s.append(2)  # initiator
            s.append(3)  # referer
        if k in _RESOURCE_PARENTS:
            s.append(4)  # resource
        stages_of.append(s)

    consumed = [False] * n
    depth = [0] * n
    attach_seq = [0] * n
    out_child: list[int] = []
    out_parent: list[int] = []
    out_stage: list[str] = []
    seq = [1]

    def attach(c: int, p: int, stage: str) -> None:
        consumed[c] = True
        attach_seq[c] = seq[0]
        seq[0] += 1
        depth[c] = depth[p] + 1 if p >= 0 else 0
        out_child.append(c)
        out_parent.append(p)
        out_stage.append(stage)

    def stage_children(p: int, si: int) -> list[int]:
        """Candidates of stage index ``si`` (into _STAGES) for parent
        ``p``; only called when stages_of[p] says the stage's parent-side
        precondition holds."""
        if si == 0:  # redirect: prefix-to-first-valid
            cands = [
                c
                for c in key_pos.get(media[p], ())
                if c != p and not consumed[c] and key[c] != key[p]
            ]
            prefix: list[int] = []
            for c in cands:
                prefix.append(c)
                if valid[c]:
                    break
            return prefix
        if si == 1:  # frame
            hits = {
                c
                for t in ref_nums[p]
                for c in key_pos.get(t, ())
                if c != p and not consumed[c]
            }
            return sorted(hits)
        if si == 2:  # initiator
            return [c for c in media_js.get(key[p], ()) if c != p and not consumed[c]]
        if si == 3:  # referer
            return [c for c in media_other.get(key[p], ()) if c != p and not consumed[c]]
        # resource
        hits = {
            c
            for t in ref_nums[p]
            for c in key_pos.get(t, ())
            if c != p and not consumed[c] and not has_media[c]
        }
        return sorted(hits)

    def make_subtree(top: int) -> None:
        """Explicit-stack DFS (a recursive version segfaults the Python
        worker thread's C-stack on a single adversarial deep-chain doc —
        raising sys.recursionlimit cannot help there). Visit order is
        identical to the recursive form: each frame materializes one
        stage's candidate list at the moment the stage is reached (so it
        sees every attach made by deeper recursion), then re-checks
        ``consumed`` per child while walking the list."""
        if not stages_of[top]:
            return
        # frame: [parent, applicable-stage cursor, child_list | None, cursor]
        stack: list[list] = [[top, 0, None, 0]]
        while stack:
            fr = stack[-1]
            children = fr[2]
            if children is None:
                slist = stages_of[fr[0]]
                if fr[1] >= len(slist):
                    stack.pop()
                    continue
                fr[2] = stage_children(fr[0], slist[fr[1]])
                fr[3] = 0
                continue
            if fr[3] >= len(children):
                fr[1] += 1
                fr[2] = None
                continue
            c = children[fr[3]]
            fr[3] += 1
            if consumed[c]:
                continue
            attach(c, fr[0], _STAGES[stages_of[fr[0]][fr[1]]])
            if stages_of[c]:
                stack.append([c, 0, None, 0])

    root = 0
    attach(root, -1, "root")
    attach_seq[root] = 0
    seq[0] = 1
    make_subtree(root)

    processed = 0
    scan = 0  # consumed flags only flip False->True: monotone scan pointer
    while processed < DANGLING_CAP:
        while scan < n and consumed[scan]:
            scan += 1
        if scan >= n:
            break
        d = scan
        processed += 1
        stage, p = _fallback(
            d, consumed, depth, attach_seq, kind, lon, lat, cell, coarse, root
        )
        attach(d, p, stage)
        make_subtree(d)

    return out_child, out_parent, out_stage, np.asarray(depth, dtype=np.int64)


# --------------------------------------------------------------- Arrow ----
# mapInArrow skips the Arrow->pandas block-manager round trip that
# dominated the kernel stage (r8, guide §4.2; measured on 4 cores over
# the 326k feature rows of a 20k-doc corpus, to the noop sink: identity
# mapInPandas 0.79s vs identity mapInArrow 0.44s). Columns become numpy
# views straight from the Arrow buffers; doc_id stays an Arrow string
# array end-to-end (doc boundaries from list parent indices or dictionary
# codes, output via take), so no Python string object is ever
# materialized per row.

_STAGE_NAMES = (
    "root", "redirect", "frame", "initiator", "referer", "resource",
    "fallback_host", "fallback_pip", "fallback_knn", "fallback_root",
)
_STAGE_CODE = {s: i for i, s in enumerate(_STAGE_NAMES)}
_STAGE_PRIO = [PRIORITY[s] for s in _STAGE_NAMES]


def _np_nullable(col):
    """Arrow column -> numpy float64 with nulls as NaN."""
    import pyarrow.compute as pc  # noqa: PLC0415

    if col.null_count:
        return pc.cast(col, "double").to_numpy(zero_copy_only=False)
    return col.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _prep_arrow(batch) -> dict:
    """Prepared-array dict (the ``_run_doc`` contract) from a RecordBatch
    of KERNEL_COLS rows, each doc contiguous and sorted by (offset,
    span_idx). Nullable ints arrive as NaN; -1 is the null sentinel (key
    space is non-negative)."""
    key = _np_nullable(batch.column("key_num"))
    media = _np_nullable(batch.column("media_num"))
    has_key = ~np.isnan(key)
    key_i = np.where(has_key, key, -1).astype(np.int64)
    kn = np.where(has_key, key, 0).astype(np.int64)
    lon, lat = grid.np_point(kn)
    cell = grid.np_cell(kn, grid.FINE_RES).astype(np.float64)
    coarse = grid.np_cell(kn, grid.COARSE_RES).astype(np.float64)
    nankey = ~has_key
    lon[nankey] = np.nan
    lat[nankey] = np.nan
    cell[nankey] = np.nan
    coarse[nankey] = np.nan
    refs = batch.column("ref_nums")
    offs = refs.offsets.to_numpy()
    vals = refs.values.to_numpy() if len(refs.values) else np.empty(0, np.int64)
    return {
        "doc_id": batch.column("doc_id"),  # stays Arrow
        "span_idx": batch.column("span_idx").to_numpy(zero_copy_only=False),
        "kind": batch.column("kind_code").to_numpy(zero_copy_only=False),
        "has_media": batch.column("has_media").to_numpy(zero_copy_only=False),
        "media": np.where(np.isnan(media), -1, media).astype(np.int64),
        "key": key_i,
        "valid": batch.column("valid").to_numpy(zero_copy_only=False),
        "lon": lon,
        "lat": lat,
        "cell": cell,
        "coarse": coarse,
        "ref_nums": [vals[offs[i]:offs[i + 1]] for i in range(len(offs) - 1)],
    }


def _emit_arrow(a: dict, chunks):
    """RecordBatch from per-doc results; doc_id via Arrow take (no Python
    strings), join_kind via take from the constant stage-name array."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    perm_parts, span_parts, parent_parts, code_parts, depth_parts = [], [], [], [], []
    span_idx = a["span_idx"]
    for lo, ch, par, st, dep in chunks:
        loc = np.asarray(ch, dtype=np.int64)
        perm_parts.append(lo + loc)
        span_parts.append(span_idx[lo + loc])
        parent_parts.append(
            np.asarray(
                [span_idx[lo + p] if p >= 0 else -1 for p in par], dtype=np.int64
            )
        )
        code_parts.append(np.asarray([_STAGE_CODE[s] for s in st], dtype=np.int64))
        depth_parts.append(dep[loc])
    perm = np.concatenate(perm_parts)
    codes = np.concatenate(code_parts)
    prio = np.asarray(_STAGE_PRIO, dtype=np.int32)[codes]
    return pa.RecordBatch.from_arrays(
        [
            pc.take(a["doc_id"], pa.array(perm)),
            pa.array(np.concatenate(span_parts).astype(np.int32)),
            pa.array(np.concatenate(parent_parts).astype(np.int32)),
            pc.take(pa.array(list(_STAGE_NAMES)), pa.array(codes)),
            pa.array(prio),
            pa.array(np.concatenate(depth_parts).astype(np.int32)),
        ],
        names=["doc_id", "span_idx", "parent_idx", "join_kind", "priority", "depth"],
    )


def _process_block(did_codes: np.ndarray, a: dict):
    """Run every doc in a prepared block; ``did_codes`` are contiguous
    per-doc group codes (doc boundaries are where they change)."""
    bounds = np.flatnonzero(
        np.concatenate(([True], did_codes[1:] != did_codes[:-1]))
    )
    bounds = np.append(bounds, len(did_codes))
    chunks = []
    for i in range(len(bounds) - 1):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        chunks.append((lo, *_run_doc(a, lo, hi)))
    return _emit_arrow(a, chunks)


def _span_slices(live, cap: int):
    """(lo, hi) doc-row ranges of at most ``cap`` spans plus one document:
    doc i goes to slice ``spans_before_i // cap``. Spark cuts Arrow
    batches by rows, and a row here is a whole document, so this restores
    the per-batch span bound of the flat layout."""
    import pyarrow.compute as pc  # noqa: PLC0415

    n = pc.fill_null(pc.list_value_length(live), 0).to_numpy(zero_copy_only=False)
    chunk = (np.cumsum(n) - n) // cap
    cuts = (np.flatnonzero(np.diff(chunk)) + 1).tolist()
    return zip([0, *cuts], [*cuts, len(n)])


def cascade_doc_rows(batches) -> Iterator:
    """mapInArrow entry over doc rows ``(doc_id, live:
    list<struct<KERNEL_FIELDS>>)`` -- every Spark route to the kernel.
    Each row is one whole document, so a batch never splits one; batches
    are cut to at most MAX_BATCH_SPANS spans plus one doc. The list order
    is not trusted (``collect_list`` order is undefined): one lexsort per
    batch orders each doc by (offset, span_idx). Rows with an empty
    ``live`` list emit nothing."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    for whole in batches:
        for lo, hi in _span_slices(whole.column("live"), MAX_BATCH_SPANS):
            batch = whole.slice(lo, hi - lo)
            live = batch.column("live")
            doc = pc.list_parent_indices(live).to_numpy(zero_copy_only=False)
            if len(doc) == 0:
                continue
            spans = pc.list_flatten(live)
            cols = dict(zip([f.name for f in spans.type], spans.flatten()))
            order = np.lexsort((
                cols["span_idx"].to_numpy(zero_copy_only=False),
                cols["offset"].to_numpy(zero_copy_only=False),
                doc,
            ))
            doc = doc[order]
            perm = pa.array(order)
            flat = pa.RecordBatch.from_arrays(
                [batch.column("doc_id").take(pa.array(doc)),
                 *(cols[c].take(perm) for c in KERNEL_FIELDS)],
                names=KERNEL_COLS,
            )
            yield _process_block(doc, _prep_arrow(flat))


def cascade_batch_arrow(batches) -> Iterator:
    """In-process adapter: flat KERNEL_COLS batches sorted by (doc_id,
    offset, span_idx), where a document may straddle batches, regrouped
    into one doc-row batch and run through ``cascade_doc_rows``. No Spark
    plan calls it."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    batches = list(batches)
    if not sum(b.num_rows for b in batches):
        return
    flat = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
    did = flat.column("doc_id")
    starts = np.flatnonzero(np.concatenate((
        [True], pc.not_equal(did[1:], did[:-1]).to_numpy(zero_copy_only=False)
    )))
    live = pa.ListArray.from_arrays(
        pa.array(np.append(starts, flat.num_rows), pa.int32()),
        pa.StructArray.from_arrays(
            [flat.column(c) for c in KERNEL_FIELDS], names=KERNEL_FIELDS
        ),
    )
    doc_rows = pa.RecordBatch.from_arrays(
        [did.take(pa.array(starts)), live], names=["doc_id", "live"]
    )
    yield from cascade_doc_rows([doc_rows])


# (cell, radius) -> ring cells as a plain Python list (r8 micro-opt,
# guide §4.2 "make the per-task work fast"): ring membership is a pure
# function of the cell id, and the zipf hot-key pool means the same few
# cells dominate fallback_knn probes across documents, so a bounded
# memo turns the per-call np_ring arithmetic + element boxing into a
# cache hit. Python-list values make the loop below iterate native ints
# (no per-element numpy unboxing) and are never mutated by callers.
# LRU over ~16k entries (a few MB): a reused worker keeps the currently
# hot cells across tasks, cold cells age out.
@functools.lru_cache(maxsize=1 << 14)
def _ring_cells(cell: int, r: int) -> list[int]:
    return grid.np_ring(cell, r).tolist()


def _fallback(d, consumed, depth, attach_seq, kind, lon, lat, cell, coarse, root):
    # cold path: convert the list-based DFS state back to numpy
    att = np.flatnonzero(np.asarray(consumed, dtype=bool))
    kind = np.asarray(kind, dtype=np.int8)
    depth = np.asarray(depth, dtype=np.int64)
    attach_seq = np.asarray(attach_seq, dtype=np.int64)
    # fallback_host (J10): same coarse cell, html/deepest/latest preference
    if not np.isnan(coarse[d]):
        cands = att[coarse[att] == coarse[d]]
        if len(cands) == 1:
            return "fallback_host", int(cands[0])
        if len(cands) > 1:
            order = np.lexsort(
                (-attach_seq[cands], -depth[cands], kind[cands] != KC_HTML)
            )
            return "fallback_host", int(cands[order[0]])
    # fallback_pip (J11/J12): containment in an attached page-root's region
    if not np.isnan(lon[d]):
        pages = att[(kind[att] == KC_HTML) & ~np.isnan(lon[att])]
        # bbox pre-reject (hexagon is inscribed in the radius box): cheap
        # numpy filter before per-page exact ray casts, result-identical
        if len(pages):
            close = (np.abs(lon[pages] - lon[d]) <= REGION_RADIUS_DEG) & (
                np.abs(lat[pages] - lat[d]) <= REGION_RADIUS_DEG
            )
            pages = pages[close]
        hits = []
        for a in pages:
            poly = hex_polygon(float(lon[a]), float(lat[a]), REGION_RADIUS_DEG)
            if bool(
                points_in_polygon(
                    np.asarray([lon[d]]), np.asarray([lat[d]]), poly
                )[0]
            ):
                hits.append(int(a))
        if hits:
            hits_arr = np.asarray(hits)
            d2 = _grid_d2(cell, hits_arr, d)
            order = np.lexsort((hits_arr, d2))  # offsets == positional order
            return "fallback_pip", int(hits_arr[order[0]])
    # fallback_knn (J13): ring expansion over attached cells
    if not np.isnan(cell[d]):
        have = att[~np.isnan(cell[att])]
        have = have[have != d]
        if len(have) > 0:
            cell_of = defaultdict(list)
            # bulk tolist: native ints for the dict keys and the ring scan
            # below (per-element numpy indexing boxes an np scalar per hit)
            for a in have.tolist():
                cell_of[int(cell[a])].append(a)
            cd = int(cell[d])
            for r in range(0, MAX_RING + 1):
                ring = _ring_cells(cd, r)
                found = [a for c in ring for a in cell_of.get(c, ())]
                if found:
                    f_arr = np.asarray(sorted(set(found)))
                    d2 = _grid_d2(cell, f_arr, d)
                    order = np.lexsort((f_arr, d2))
                    return "fallback_knn", int(f_arr[order[0]])
    return "fallback_root", root


def _grid_d2(cell: np.ndarray, cands: np.ndarray, d: int) -> np.ndarray:
    _, ax, ay = grid.np_cell_xy(cell[cands].astype(np.int64))
    _, dx, dy = grid.np_cell_xy(np.asarray([int(cell[d])], dtype=np.int64))
    return (ax - dx[0]) ** 2 + (ay - dy[0]) ** 2

