"""pdftext_spark — a PySpark-native structured-text extraction engine.

A from-scratch reimplementation of the extraction *semantics* of
VikParuchuri/pdftext (char → word-dedup → span → line → block → page,
plus text postprocessing, reading-order sort, link joining, table-cell
clustering), re-expressed Spark-first:

- input:  a table of multi-turn agent transcripts
  ``(conv_id string, turn_idx int, role string, text string, tool string,
  ts timestamp)`` where document-like turns carry a serialized char-stream
  payload and tool turns carry HTML;
- engine: one ``mapInArrow`` pass; the kernel is vectorized numpy
  *across all turns in a batch* (zero Spark-level per-row Python) and its
  output is assembled as Arrow arrays straight from segmentation offsets;
- cross-turn state (link reference registry) is aggregated from the tiny
  link_dests column of the cached kernel output and broadcast-joined
  back, so no payload is decoded twice and the heavy char data never
  shuffles (the salted repartition engages only for clustered sources).

Reference semantics are documented per-operator in SURVEY.md §2 with
`file:line` citations into /root/reference.
"""

__version__ = "0.3.0"
