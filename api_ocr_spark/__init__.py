"""api_ocr_spark — a from-scratch PySpark-native document-extraction engine.

Re-expresses the capabilities of the Cat-Not-Furry/API-OCR reference service
(a per-request FastAPI OCR microservice, /root/reference) as a distributed
batch pipeline over tables of interleaved text+media documents
(doc_id, spans:array<struct<kind,text,media_ref,offset>>).

Layout
------
imaging/    pure-numpy raster stack: PNG codec, bitmap font, renderer
kernels/    numpy re-implementations of the reference preprocessing kernels
ocr/        deterministic glyph OCR engine + association
functions/  Spark-native column expressions (JVM-side, no Python in hot path),
            incl. the postprocess extractors
sources/    table loaders + interleaved-span synthesis + media store
operators/  DataFrame pipeline stages (explode/join/ocr/reassemble/dedup/...)
plans/      session builder, checkpoint/lineage/metrics

Design rule (BASELINE.json input_hint): pyspark.sql DataFrame + vectorized
pandas/Arrow UDFs throughout; no per-row Python UDFs.
"""

__version__ = "0.1.0"
