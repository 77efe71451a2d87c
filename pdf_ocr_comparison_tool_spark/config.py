"""Broadcast dimension tables (SURVEY §1.3).

The reference keeps classification/project rules in nested YAML dicts
(config.yaml:92-122 document_types, :15-89 projects) and loops over them
in Python. Here they are flattened into small dimension tables that join
(broadcast) against the pages IR — the rules below re-express the
reference's configured keyword sets as data.
"""

from __future__ import annotations

# (doc_type, keyword, priority) — flattened from reference config.yaml:92-122
DOC_TYPE_KEYWORDS: list[tuple[str, str, int]] = [
    ("凭证", "记账凭证", 1), ("凭证", "收款凭证", 1), ("凭证", "付款凭证", 1),
    ("凭证", "转账凭证", 1), ("凭证", "借方", 1), ("凭证", "贷方", 1),
    ("凭证", "会计科目", 1), ("凭证", "摘要", 1),
    ("函", "复函", 2), ("函", "致函", 2), ("函", "来函", 2),
    ("函", "发文", 2), ("函", "收文", 2),
    ("合同书", "合同", 3), ("合同书", "协议", 3), ("合同书", "甲方", 3),
    ("合同书", "乙方", 3), ("合同书", "签章", 3), ("合同书", "合同金额", 3),
    ("合同书", "合同编号", 3),
    ("会议纪要", "会议纪要", 4), ("会议纪要", "参会人员", 4), ("会议纪要", "议题", 4),
    ("会议纪要", "决议", 4),
    ("发票", "发票", 5), ("发票", "税号", 5), ("发票", "发票代码", 5),
    ("发票", "发票号码", 5), ("发票", "税额", 5), ("发票", "价税合计", 5),
    ("审批单", "审批", 6), ("审批单", "批复", 6), ("审批单", "审批意见", 6),
    ("审批单", "审核", 6),
    ("工程报告", "验收", 7), ("工程报告", "设计", 7), ("工程报告", "工程", 7),
    ("工程报告", "施工", 7), ("工程报告", "竣工", 7),
    ("招标文件", "招标", 8), ("招标文件", "投标", 8), ("招标文件", "中标", 8),
    ("招标文件", "评标", 8), ("招标文件", "开标", 8),
    ("资金申请", "资金申请", 9), ("资金申请", "用款申请", 9), ("资金申请", "拨款", 9),
    ("资金申请", "付款申请", 9),
]

DEFAULT_DOC_TYPE = "其他"
DEFAULT_CONFIDENCE = 0.5

# matching thresholds — reference config.yaml:152-160
EXACT_THRESHOLD = 0.95
SIMILARITY_THRESHOLD = 0.75
PARTIAL_THRESHOLD = 0.60
TOP_K = 5
FALLBACK_CAP = 100
LEVENSHTEIN_MAX_CHARS = 1000

STATUS_EXACT = "完全匹配"
STATUS_PARTIAL = "部分匹配"
STATUS_LOW = "低相似度"
STATUS_NOT_FOUND = "未找到"

# the two-folder pipeline's simplified banding (run_ocr.py:258,270):
# '匹配' above the threshold, else '部分匹配'; no-match rows '未匹配'
TWO_BAND_THRESHOLD = 0.75
STATUS_TB_MATCH = "匹配"
STATUS_TB_PARTIAL = "部分匹配"
STATUS_TB_NONE = "未匹配"


def doc_type_patterns() -> list[tuple[str, int, str]]:
    """(doc_type, priority, alternation_regex) — ONE findall regex per
    type, keywords in config order (document_classifier.py:52-60 builds
    '|'.join(keywords) and counts non-overlapping findall matches, so
    nested keywords like 合同/合同金额 do NOT double-count: leftmost-
    first alternation consumes 合同 and moves on). Keyword literals are
    CJK with no regex metacharacters (asserted)."""
    grouped: dict[str, tuple[int, list[str]]] = {}
    for t, k, p in DOC_TYPE_KEYWORDS:
        assert not set(k) & set(r"\.[]{}()*+?^$|"), k
        grouped.setdefault(t, (p, []))[1].append(k)
    return [(t, p, "|".join(ks)) for t, (p, ks) in grouped.items()]
