"""Pure-numpy vectorized geometry kernel.

The reference (kblock) does all geometry through pygeos/GEOS columnar
arrays (kblock/batch_1b_generate_blocks.py:31-76). This container has
no GEOS bindings, so the same *vectorized columnar* style is
implemented directly in numpy. Everything here is deterministic and
allocation-light so it can run inside Arrow-batched pandas UDFs;
:mod:`.tiling` also holds the Catalyst twins of its cell functions.
"""
