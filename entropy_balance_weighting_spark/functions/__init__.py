"""Column-level operators that feed a reweighting.

- :mod:`functions.sampling` — deterministic hash-based Bernoulli,
  stratified, fixed-k-per-stratum, score-weighted and mix-matching
  samples of the frame to be reweighted.  Membership is a pure function
  of (key, salt) through the engine-portable md5-prefix hash
  (:func:`functions.sampling.portable_hash32`), so it is reproducible
  under repartitioning and replayable bit-for-bit in DuckDB; every
  filter is a zero-shuffle map-side projection.

The other modules here are library code that no registered query uses:
the image and video codecs and probes (:mod:`functions.multimodal`,
:mod:`functions.container_meta` and the ``*_codec`` modules; the PDF and
audio codecs are already retired).  Their own tests pin them; they stay
until later changes retire them one codec family at a time.
"""
