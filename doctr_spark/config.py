"""Engine-wide constants.

The geometry/threshold constants mirror the reference defaults
(`/root/reference/doctr/models/builder.py:57-66`,
`/root/reference/doctr/models/detection/differentiable_binarization/base.py:30-40`,
`/root/reference/doctr/models/recognition/predictor/pytorch.py` split defaults).
The page/glyph constants define this engine's deterministic synthetic
"raster" domain (stand-in for pypdfium2/weasyprint rendering, which are not
available in this container).
"""

# --- synthetic page raster ------------------------------------------------
PAGE_H = 256
PAGE_W = 512
MARGIN = 16  # blank border around content
LINE_LEADING = 8  # vertical gap between text rows
WORD_GAP = 8  # horizontal gap between words on a row (px)
PARA_LEADING = 8  # extra vertical gap before a new paragraph

# --- glyph font (deterministic recognizable "ink") -------------------------
GLYPH_H = 16  # every word box is exactly this tall
GLYPH_W = 4  # one character cell: [marker col, code col, blank, blank]
CODE_BITS = 7  # vocab index encoded as 7 bits in the code column
INK = 204  # ink intensity -> probability 0.8 after /255

# --- detection postprocess (DB/FAST-style) ---------------------------------
BIN_THRESH = 0.3  # differentiable_binarization/base.py:38 (bin_thresh)
BOX_THRESH = 0.1  # differentiable_binarization/base.py:39 (box_thresh)
MIN_BOX_SIZE = 2  # min box side in px, differentiable_binarization/base.py:106-113

# --- recognition crop splitting --------------------------------------------
MAX_ASPECT_RATIO = 8  # split crops wider than 8*h (recognition/predictor)
TARGET_ASPECT_RATIO = 6  # split into windows of aspect ~6
SPLIT_OVERLAP_RATIO = 0.5  # 50% overlap between windows
LOGIT_HI = 8.0  # logit assigned to the winning class by the stand-in model

# --- document builder -------------------------------------------------------
PARAGRAPH_BREAK = 0.035  # builder.py:58 default paragraph_break
BLOCK_CLUSTER_T = 0.1  # builder.py fclusterdata(t=0.1) distance threshold

# --- Spark job tuning --------------------------------------------------------
DEFAULT_SHUFFLE_PARTITIONS = 32  # floor; get_spark uses max(this, 2 x cores)
# Arrow batch size for the image-bearing stages: pages are ~tens of KB
# compressed, keep batches modest so executor memory stays bounded.
ARROW_MAX_RECORDS = 1024

# --- table structure ---------------------------------------------------------
RULING_INK = 60  # ruling-line intensity: below BIN_THRESH*255 so the word
#                  detector ignores grid lines; the table-structure head
#                  thresholds at RULING_THRESH instead
RULING_THRESH = 40
TABLE_CELL_H = 24  # rendered cell pitch (rows)
TABLE_NEAREST_FRAC = 0.5  # nearest-cell capture radius: 0.5 * median cell diagonal
