"""Layer-level helpers for the tile merge (SURVEY B14: partial encode per
(tile, salt/stream) -> final merge). The merge itself is
engine.pipeline.tiler.merge_partial_tiles; this module holds the two
pieces it needs for pre-encoded tiles from other streams.

Legality: a protobuf message built by concatenating serialized occurrences
of a repeated submessage field equals the message holding all of them
(go-mvt Tile.layers framing, internal/spec/vector_tile.proto:75; layer
model layer.go:14). So:

- split_tile_layers: a top-level wire scan of a finished tile into its
  layer submessages. A layer whose name no other input carries (e.g. the
  polygon stream's "polygons"/"outlines" beside the point stream's
  "pages") is spliced into the merged tile as is, with no re-encode.
- _merge_layer: the generic re-framer for a layer name that more than one
  input carries (same-name pre-encoded layers, id-less or foreign input).
  Features are decoded and re-encoded in the canonical order (sorted by
  id); geometry command words pass through untouched, so the result is
  BYTE-IDENTICAL to a single-pass encode of the union (the engine's
  canon: layers sorted by name, features by feature id).
"""

from __future__ import annotations

from engine.mvtcodec import pbwire, tile as tilemod
from engine.mvtcodec.pbwire import WT_LEN


def split_tile_layers(data: bytes) -> list[tuple[str, bytes]]:
    """Top-level wire scan: the tile's layer submessages with their names
    (no feature/geometry decoding)."""
    r = pbwire.Reader(data)
    out = []
    while not r.at_end():
        field, wt = r.read_tag()
        if field == 3 and wt == WT_LEN:
            s, e = r.read_len()
            rr = pbwire.Reader(data, s, e)
            name = None
            while not rr.at_end():
                f, w = rr.read_tag()
                if f == 1 and w == WT_LEN:
                    name = rr.read_bytes().decode("utf-8")
                    break
                rr.skip(w)
            out.append((name, data[s:e]))
        else:
            r.skip(wt)
    return out


def _merge_layer(name: str, msgs: list[bytes]) -> bytes:
    """Merge same-name partial layers: features re-framed in canonical
    (id) order; geometry words pass through untouched."""
    feats = []
    extent = None
    for msg in msgs:
        _, layer = tilemod.decode_layer(msg, 0, len(msg))
        if extent is None:
            extent = layer["extent"]
        elif layer["extent"] != extent:
            # partials quantized on different grids cannot be re-framed
            # onto one extent without re-quantizing geometry
            raise ValueError(
                f"layer '{name}': partials disagree on extent "
                f"({extent} vs {layer['extent']})"
            )
        feats.extend(layer["features"])
    feats.sort(key=lambda f: (f["id"] is None, f["id"]))
    return tilemod.encode_layer(name, {"extent": extent, "features": feats})
