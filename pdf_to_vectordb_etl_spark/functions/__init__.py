from .filename import (  # noqa: F401
    day_of,
    color_of,
    file_tail,
    is_pdf_name,
    subject_of,
    year_of,
)
from .textops import (  # noqa: F401
    canonical_delim,
    make_question_id,
    page_question_count,
    scrub_barcodes,
    scrub_long_lines,
    strip_header,
    txt_record,
)
from .vector import cosine_similarity, dot, l2_norm  # noqa: F401
