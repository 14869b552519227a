"""Engine constants.

The span-synthesis constants define the determinism contract between the
Spark pipeline and the DuckDB oracle SQL in __spark_entry__ — change them in
lockstep. OCR profile constants mirror the reference's envelope
(/root/reference/main.py:55-64, config.py:14-18).
"""

# --- interleaved-span synthesis (sources/interleave.py <-> oracle SQL) ---
CHUNK_WORDS = 8          # words per span
MEDIA_MOD = 3            # span i of doc d is media iff (d + i) % MEDIA_MOD == 0
SCENARIO_MULT = 31       # scenario index = (d * 31 + i) % len(SCENARIOS)
RENDER_SEED_MULT = 100003  # render seed = d * 100003 + i
JPEG_FMT_MULT = 7        # media span stored as JPEG iff (d*7 + i) % 4 == 0
JPEG_FMT_MOD = 4         #   (else PNG) — mixed-format media store
JPEG_MEDIA_QUALITY = 90  # q90: binarized ink mask survives (tests prove
                         # mask equality at q >= 85), so extraction over the
                         # lossy-compressed pixels stays span-exact

# --- reference OCR envelope (kept as engine config for parity) ---
MAX_DIMENSION_BASIC = 1000       # /root/reference/main.py:55
MAX_DIMENSION_BASIC_RETRY = 850  # main.py:56
MAX_DIMENSION_DOCUMENTO = 1300   # main.py:60
MAX_SIZE_MB_DOCUMENTO = 1.4      # main.py:61
MAX_DIMENSION_SEGMENTADO = 1100  # main.py:59
TABLE_ROUTE_MIN_HLINES = 10      # main.py:291
