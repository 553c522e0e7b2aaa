"""The one reader that turns a batch of EWKB rows into numpy.

Every batch parser in the package reads its input through this module:

- :func:`as_binary_array` is the one input format. A pyarrow
  Binary/LargeBinary array passes through (a chunked one is combined); a
  sequence of bytes (list, object ndarray, pandas Series with None or NaN)
  is converted to Arrow once.
- :func:`flat_views` is the one buffer view: offsets, the flat data bytes
  and the validity mask, read straight off the Arrow buffers with no
  per-row ``bytes`` objects and no copy. The ragged CSR scanners
  (``geo/ragged.py``) walk these views.
- :func:`uniform_batch_pa` is the one uniform parser: ``("point2d", x,
  y)`` / ``("ring", coords, axis_rect)`` / ``None``, as numpy strided
  views into the Arrow data buffer. They are read-only: a caller that
  keeps or mutates the arrays copies them first.
- :func:`header_info_pa` decodes every row's header in one pass.

The uniform envelope: every row little-endian, no Z/M, a known type code
(Point or single-ring Polygon), all rows sharing the FULL structural prefix
(endian byte, type word, SRID, ring/point count words) and byte length.
``axis_rect`` is the st_rectangle vertex-order test. Anything else returns
None, and the caller takes its ragged or per-row path.

The strided-view trick: rows of identical length L form one ``(n, L)``
uint8 view, and the coordinates one ``(n, npts, 2)`` float64 view with
row stride L.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["as_binary_array", "flat_views", "header_info_pa", "uniform_batch_pa"]

_SRID_FLAG = 0x20000000
_ZM_FLAGS = 0x80000000 | 0x40000000


def as_binary_array(bufs):
    """``bufs`` as a pyarrow Binary/LargeBinary array: an Arrow array passes
    through (a chunked one is combined), and a sequence of bytes with None
    or NaN for nulls is converted once."""
    import pyarrow as pa

    if isinstance(bufs, pa.ChunkedArray):
        return bufs.combine_chunks()
    if isinstance(bufs, pa.Array):
        return bufs
    if not len(bufs):
        return pa.array([], type=pa.binary())
    return pa.array(bufs, type=pa.binary(), from_pandas=True)


def flat_views(arr):
    """(offsets int64 (n+1,), data uint8 view, valid bool mask or None) for
    a pyarrow Binary/LargeBinary array, honoring the array offset. ``data``
    is a read-only view of the Arrow data buffer."""
    bufs = arr.buffers()
    off_dt = np.int64 if "large" in str(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=off_dt)[arr.offset: arr.offset + len(arr) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    data.flags.writeable = False  # Arrow memory: parsers only read it
    valid = None
    if arr.null_count:
        vbits = np.frombuffer(bufs[0], dtype=np.uint8)
        idx = np.arange(arr.offset, arr.offset + len(arr))
        valid = (vbits[idx >> 3] >> (idx & 7) & 1).astype(bool)
    return offs.astype(np.int64), data, valid


def uniform_batch_pa(bufs):
    """Parse a uniform batch (see the module docstring) from a pyarrow
    binary array or a bytes sequence. Returns one of:

    - ``("point2d", x, y)`` — all rows little-endian 2-D points (x/y are
      float64 strided views into the Arrow data buffer)
    - ``("ring", coords, axis_rect)`` — all rows single-ring 2-D polygons
      with the same vertex count; ``coords`` is an ``(n, m, 2)`` float64
      strided view; ``axis_rect`` True when every row is an axis-aligned
      rectangle ring in st_rectangle vertex order
    - ``None`` — empty batch, nulls present, or mixed/complex batch; the
      caller falls back to its ragged or per-row path.

    The views are read-only (they alias Arrow memory): copy before keeping
    or mutating them.
    """
    arr = as_binary_array(bufs)
    n = len(arr)
    if n == 0 or arr.null_count:
        return None
    offs, data, _valid = flat_views(arr)
    lens = np.diff(offs)
    L = int(lens[0])
    if L < 21 or not bool((lens == L).all()):
        return None
    base = int(offs[0])
    if data[base] != 1:
        return None
    (word,) = struct.unpack_from("<I", data, base + 1)
    if word & _ZM_FLAGS:
        return None
    head = 5 + (4 if word & _SRID_FLAG else 0)
    gtype = word & 0x0FFFFFFF
    if gtype == 1 and L == head + 16:  # Point
        prefix_len = head
        npts = 1
    elif gtype == 3 and L >= head + 8 + 4 * 16:  # Polygon
        (nrings,) = struct.unpack_from("<I", data, base + head)
        if nrings != 1:
            return None
        (npts,) = struct.unpack_from("<I", data, base + head + 4)
        if L != head + 8 + npts * 16:
            return None
        prefix_len = head + 8
    else:
        return None
    # every row must share the FULL structural prefix (endian, type word,
    # srid, ring/point counts) — a multi-ring polygon with a colliding
    # byte length must not decode as single-ring with count words read as
    # coordinates
    mat = np.ndarray(
        shape=(n, prefix_len), dtype=np.uint8, buffer=data,
        offset=base, strides=(L, 1),
    )
    if not bool((mat == mat[0]).all()):
        return None
    coords = np.ndarray(
        shape=(n, npts * 2), dtype="<f8", buffer=data,
        offset=base + prefix_len, strides=(L, 8),
    ).reshape(n, npts, 2)
    if gtype == 1:
        return ("point2d", coords[:, 0, 0], coords[:, 0, 1])
    x, y = coords[:, :, 0], coords[:, :, 1]
    axis_rect = False
    if npts == 5:
        axis_rect = bool(
            np.all(x[:, 0] == x[:, 3]) and np.all(x[:, 0] == x[:, 4])
            and np.all(x[:, 1] == x[:, 2])
            and np.all(y[:, 0] == y[:, 1]) and np.all(y[:, 0] == y[:, 4])
            and np.all(y[:, 2] == y[:, 3])
        )
    return ("ring", coords, axis_rect)


def header_info_pa(arr):
    """Vectorized ``geo.wkb.header_info`` over a pyarrow Binary array (r11):
    ``(base_type int32, has_z bool, has_m bool, srid int32, null_mask)``
    numpy arrays straight from the Arrow buffers — no per-row bytes objects,
    both endiannesses, EWKB flag bits AND ISO 1000/2000/3000 codes, exactly
    the scalar decoder's rules (``_decode_type_word``). Raises the scalar
    lane's ``ValueError`` on any too-short valid row."""
    offs, data, valid = flat_views(arr)
    n = len(arr)
    starts = offs[:-1]
    lens = np.diff(offs)
    null_mask = ~valid if valid is not None else np.zeros(n, dtype=bool)
    ok = ~null_mask
    if not ok.any():
        z = np.zeros(n, dtype=np.int32)
        return z, np.zeros(n, bool), np.zeros(n, bool), z, null_mask
    if int(lens[ok].min()) < 5:
        raise ValueError("Invalid WKB: too short")
    s = np.where(ok, starts, 0)

    def _u32(at, lit):
        b = [data[at + i].astype(np.uint32) for i in range(4)]
        le = b[0] | (b[1] << 8) | (b[2] << 16) | (b[3] << 24)
        be = b[3] | (b[2] << 8) | (b[1] << 16) | (b[0] << 24)
        return np.where(lit, le, be)

    little = data[s] == 1
    raw = _u32(s + 1, little)
    has_z = (raw & 0x80000000) != 0
    has_m = (raw & 0x40000000) != 0
    has_srid = (raw & _SRID_FLAG) != 0
    base = (raw & 0x0FFFFFFF).astype(np.int64)
    iso = np.where(base >= 1000, base // 1000, 0)
    has_z |= (iso == 1) | (iso == 3)
    has_m |= (iso == 2) | (iso == 3)
    base = np.where(base >= 1000, base % 1000, base)
    srid = np.zeros(n, dtype=np.int64)
    rd = has_srid & ok
    if rd.any():
        if (lens[rd] < 9).any():
            raise ValueError("Invalid WKB: too short")
        srid[rd] = _u32(s[rd] + 5, little[rd])
    return (base.astype(np.int32), has_z & ok, has_m & ok,
            srid.astype(np.int32), null_mask)
