"""Literals of the planted gate corpora.

The gate queries in ``__spark_entry__.py`` and the independent oracle
twins in ``scripts/build_oracles.py`` must build the identical planted
input, so each literal is declared once, here. Constants only: this module imports
nothing, so the twins read it without importing a kernel under test.
Changing a value changes the gate corpus: regenerate the oracles.
"""

# boilerplate passages planted for the span-dedup gates (>= k tokens each)
BOILER_A = "please accept all cookies to continue reading this page content now"
BOILER_B = "subscribe to our newsletter for weekly updates delivered to you"

# planted corpus-wide duplicate line for the C4-clean gates
PLANT_LINE = "the fast table scan runs on the big cluster tonight"

# every 12-token run becomes a line (Java and RE2 regex semantics agree:
# non-overlapping left-to-right global replace)
LINE_PAT = r"((?:\S+ ){11}\S+) "

# rows of the synthetic image corpus (io/synth.py) the image gates read
N_IMAGES = 600
