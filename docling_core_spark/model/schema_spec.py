"""Declared shape of the document model (JSON-Schema spec table).

Compact field specs expanded by model/schema.py into the pydantic-style
JSON Schema that the reference commits as docs/DoclingDocument.json (the
public schema contract; GT-compared by tests/test_jsonschema_gt.py).
Drafted by scripts/draft_schema_spec.py, then maintained by hand.
"""

from docling_core_spark.model.schema_dsl import (
    U, arr, const, dunion, enum, mapof, opt, ref, t, tup,
)


DEFS = {}

_BaseMeta = {
    'title': 'BaseMeta',
    'description': 'Base class for metadata.',
    'additional': True,
    'fields': {
        'summary': opt('@SummaryMetaField', default=None, desc='A condensed natural-language summary of the content rooted at this node.', examples=[{'text': 'A short company/location statement.'}]),
        'language': opt('@LanguageMetaField', default=None, desc='The detected human language of the node content, expressed as a BCP 47 code.', examples=[{'code': 'en'}]),
        'entities': opt('@EntitiesMetaField', default=None, desc='Named entities extracted from the node text (persons, organisations, locations, etc.). Each mention carries the entity text, an optional type label, and an optional character span.', examples=[{'mentions': [{'charspan': [0, 3], 'label': 'ORG', 'text': 'IBM'}]}]),
        'keywords': opt('@KeywordsMetaField', default=None, desc='Salient terms or short keyphrases that characterise the node content. Keywords are more specific than topics and typically correspond to individual words or short multi-word expressions found in or closely related to the text. Values are order-preserving and deduplicated.', examples=[{'values': ['transformer', 'attention mechanism', 'BERT']}]),
        'topics': opt('@TopicsMetaField', default=None, desc="Higher-level subject categories or thematic labels inferred for the node content. Topics are broader than keywords and describe the domain or theme rather than specific terms (e.g., 'machine learning' rather than 'gradient descent'). Values are order-preserving and deduplicated.", examples=[{'values': ['natural language processing', 'computer vision']}]),
    },
}

DEFS['BaseMeta'] = _BaseMeta

_BoundingBox = {
    'title': 'BoundingBox',
    'description': 'BoundingBox.',
    'required': ['l', 't', 'r', 'b'],
    'fields': {
        'l': 'number',
        't': 'number',
        'r': 'number',
        'b': 'number',
        'coord_origin': ref('CoordOrigin', default='TOPLEFT'),
    },
}

DEFS['BoundingBox'] = _BoundingBox

_ChartBar = {
    'title': 'ChartBar',
    'description': 'Represents a bar in a bar chart.\n\nAttributes:\n    label (str): The label for the bar.\n    values (float): The value associated with the bar.',
    'required': ['label', 'values'],
    'fields': {
        'label': 'string',
        'values': 'number',
    },
}

DEFS['ChartBar'] = _ChartBar

_ChartLine = {
    'title': 'ChartLine',
    'description': "Represents a line in a line chart.\n\nAttributes:\n    label (str): The label for the line.\n    values (list[tuple[float, float]]): A list of (x, y) coordinate pairs\n        representing the line's data points.",
    'required': ['label', 'values'],
    'fields': {
        'label': 'string',
        'values': arr(tup('number', 'number')),
    },
}

DEFS['ChartLine'] = _ChartLine

_ChartPoint = {
    'title': 'ChartPoint',
    'description': 'Represents a point in a scatter chart.\n\nAttributes:\n    value (Tuple[float, float]): A (x, y) coordinate pair representing a point in a\n        chart.',
    'required': ['value'],
    'fields': {
        'value': tup('number', 'number'),
    },
}

DEFS['ChartPoint'] = _ChartPoint

_ChartSlice = {
    'title': 'ChartSlice',
    'description': 'Represents a slice in a pie chart.\n\nAttributes:\n    label (str): The label for the slice.\n    value (float): The value represented by the slice.',
    'required': ['label', 'value'],
    'fields': {
        'label': 'string',
        'value': 'number',
    },
}

DEFS['ChartSlice'] = _ChartSlice

_ChartStackedBar = {
    'title': 'ChartStackedBar',
    'description': 'Represents a stacked bar in a stacked bar chart.\n\nAttributes:\n    label (list[str]): The labels for the stacked bars. Multiple values are stored\n        in cases where the chart is "double stacked," meaning bars are stacked both\n        horizontally and vertically.\n    values (list[tuple[str, int]]): A list of values representing different segments\n        of the stacked bar along with their label.',
    'required': ['label', 'values'],
    'fields': {
        'label': arr('string'),
        'values': arr(tup('string', 'integer')),
    },
}

DEFS['ChartStackedBar'] = _ChartStackedBar

_CodeItem = {
    'title': 'CodeItem',
    'description': 'CodeItem.',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@FloatingMeta', default=None),
        'label': const('code'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
        'captions': arr('@RefItem', default=[]),
        'references': arr('@RefItem', default=[]),
        'footnotes': arr('@RefItem', default=[]),
        'image': opt('@ImageRef', default=None),
        'code_language': ref('CodeLanguageLabel', default='unknown'),
    },
}

DEFS['CodeItem'] = _CodeItem

_CodeLanguageLabel = {
    'title': 'CodeLanguageLabel',
    'description': 'CodeLanguageLabel.',
    'enum': ['Ada', 'Awk', 'Bash', 'bc', 'C', 'C#', 'C++', 'CMake', 'COBOL', 'CSS', 'Ceylon', 'Clojure', 'Crystal', 'Cuda', 'Cython', 'D', 'Dart', 'dc', 'Dockerfile', 'DocLang', 'Elixir', 'Erlang', 'FORTRAN', 'Forth', 'Go', 'HTML', 'Haskell', 'Haxe', 'Java', 'JavaScript', 'JSON', 'Julia', 'Kotlin', 'Latex', 'Lisp', 'Lua', 'Matlab', 'MoonScript', 'Nim', 'OCaml', 'ObjectiveC', 'Octave', 'PHP', 'Pascal', 'Perl', 'Prolog', 'Python', 'Racket', 'Ruby', 'Rust', 'SML', 'SQL', 'Scala', 'Scheme', 'Swift', 'Tikz', 'TypeScript', 'unknown', 'VisualBasic', 'XML', 'YAML'],
    'type': 'string',
}

DEFS['CodeLanguageLabel'] = _CodeLanguageLabel

_CodeMetaField = {
    'title': 'CodeMetaField',
    'description': 'Code representation for the respective item.',
    'additional': True,
    'required': ['text'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'text': 'string',
        'language': opt('@CodeLanguageLabel', default=None),
    },
}

DEFS['CodeMetaField'] = _CodeMetaField

_ContentLayer = {
    'title': 'ContentLayer',
    'description': 'ContentLayer.',
    'enum': ['body', 'furniture', 'background', 'invisible', 'notes'],
    'type': 'string',
}

DEFS['ContentLayer'] = _ContentLayer

_CoordOrigin = {
    'title': 'CoordOrigin',
    'description': 'CoordOrigin.',
    'enum': ['TOPLEFT', 'BOTTOMLEFT'],
    'type': 'string',
}

DEFS['CoordOrigin'] = _CoordOrigin

_DescriptionAnnotation = {
    'title': 'DescriptionAnnotation',
    'description': 'DescriptionAnnotation.',
    'required': ['text', 'provenance'],
    'fields': {
        'kind': const('description'),
        'text': 'string',
        'provenance': 'string',
    },
}

DEFS['DescriptionAnnotation'] = _DescriptionAnnotation

_DescriptionMetaField = {
    'title': 'DescriptionMetaField',
    'description': 'Description metadata field.',
    'additional': True,
    'required': ['text'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'text': 'string',
    },
}

DEFS['DescriptionMetaField'] = _DescriptionMetaField

_DocumentOrigin = {
    'title': 'DocumentOrigin',
    'description': 'FileSource.',
    'required': ['mimetype', 'binary_hash', 'filename'],
    'fields': {
        'mimetype': 'string',
        'binary_hash': t('integer', maximum=18446744073709551615, minimum=0),
        'filename': 'string',
        'uri': opt('anyurl', default=None),
    },
}

DEFS['DocumentOrigin'] = _DocumentOrigin

_EntitiesMetaField = {
    'title': 'EntitiesMetaField',
    'description': 'Container for extracted entity mentions.',
    'additional': True,
    'required': ['mentions'],
    'fields': {
        'mentions': arr('@EntityMention', min_items=1),
    },
}

DEFS['EntitiesMetaField'] = _EntitiesMetaField

_EntityMention = {
    'title': 'EntityMention',
    'description': 'Entity mention extracted from text.',
    'additional': True,
    'required': ['text'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'text': t('string', desc='Normalized text of the entity mention.'),
        'orig': opt('string', default=None, desc="Exact source text extracted from the original charspan, analogous to TextItem.orig. This may differ from 'text' when the mention has been normalized."),
        'label': opt('string', default=None, desc='Entity type or category.'),
        'charspan': opt(tup('integer', 'integer', desc='Character span (0-indexed)'), default=None, desc='Character span (0-indexed) of the entity mention in the source text.'),
    },
}

DEFS['EntityMention'] = _EntityMention

_FieldHeadingItem = {
    'title': 'FieldHeadingItem',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('field_heading'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
        'level': t('integer', default=1, maximum=100, minimum=1),
    },
}

DEFS['FieldHeadingItem'] = _FieldHeadingItem

_FieldItem = {
    'title': 'FieldItem',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('field_item'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
    },
}

DEFS['FieldItem'] = _FieldItem

_FieldRegionItem = {
    'title': 'FieldRegionItem',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('field_region'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
    },
}

DEFS['FieldRegionItem'] = _FieldRegionItem

_FieldValueItem = {
    'title': 'FieldValueItem',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('field_value'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
        'kind': enum(['read_only', 'fillable'], default='read_only'),
    },
}

DEFS['FieldValueItem'] = _FieldValueItem

_FineRef = {
    'title': 'FineRef',
    'description': 'Fine-granular reference item that can capture span range info.',
    'required': ['$ref'],
    'fields': {
        '$ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'range': opt(tup('integer', 'integer'), default=None),
    },
}

DEFS['FineRef'] = _FineRef

_FloatingMeta = {
    'title': 'FloatingMeta',
    'description': 'Metadata model for floating.',
    'additional': True,
    'fields': {
        'summary': opt('@SummaryMetaField', default=None, desc='A condensed natural-language summary of the content rooted at this node.', examples=[{'text': 'A short company/location statement.'}]),
        'language': opt('@LanguageMetaField', default=None, desc='The detected human language of the node content, expressed as a BCP 47 code.', examples=[{'code': 'en'}]),
        'entities': opt('@EntitiesMetaField', default=None, desc='Named entities extracted from the node text (persons, organisations, locations, etc.). Each mention carries the entity text, an optional type label, and an optional character span.', examples=[{'mentions': [{'charspan': [0, 3], 'label': 'ORG', 'text': 'IBM'}]}]),
        'keywords': opt('@KeywordsMetaField', default=None, desc='Salient terms or short keyphrases that characterise the node content. Keywords are more specific than topics and typically correspond to individual words or short multi-word expressions found in or closely related to the text. Values are order-preserving and deduplicated.', examples=[{'values': ['transformer', 'attention mechanism', 'BERT']}]),
        'topics': opt('@TopicsMetaField', default=None, desc="Higher-level subject categories or thematic labels inferred for the node content. Topics are broader than keywords and describe the domain or theme rather than specific terms (e.g., 'machine learning' rather than 'gradient descent'). Values are order-preserving and deduplicated.", examples=[{'values': ['natural language processing', 'computer vision']}]),
        'description': opt('@DescriptionMetaField', default=None),
    },
}

DEFS['FloatingMeta'] = _FloatingMeta

_FormItem = {
    'title': 'FormItem',
    'description': 'FormItem.',
    'additional': False,
    'required': ['self_ref', 'graph'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@FloatingMeta', default=None),
        'label': const('form'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'captions': arr('@RefItem', default=[]),
        'references': arr('@RefItem', default=[]),
        'footnotes': arr('@RefItem', default=[]),
        'image': opt('@ImageRef', default=None),
        'graph': ref('GraphData'),
    },
}

DEFS['FormItem'] = _FormItem

_Formatting = {
    'title': 'Formatting',
    'description': 'Formatting.',
    'fields': {
        'bold': t('boolean', default=False),
        'italic': t('boolean', default=False),
        'underline': t('boolean', default=False),
        'strikethrough': t('boolean', default=False),
        'script': ref('Script', default='baseline'),
    },
}

DEFS['Formatting'] = _Formatting

_FormulaItem = {
    'title': 'FormulaItem',
    'description': 'FormulaItem.',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('formula'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
    },
}

DEFS['FormulaItem'] = _FormulaItem

_GraphCell = {
    'title': 'GraphCell',
    'description': 'GraphCell.',
    'required': ['label', 'cell_id', 'text', 'orig'],
    'fields': {
        'label': ref('GraphCellLabel'),
        'cell_id': 'integer',
        'text': 'string',
        'orig': 'string',
        'prov': opt('@ProvenanceItem', default=None),
        'item_ref': opt('@RefItem', default=None),
    },
}

DEFS['GraphCell'] = _GraphCell

_GraphCellLabel = {
    'title': 'GraphCellLabel',
    'description': 'GraphCellLabel.',
    'enum': ['unspecified', 'key', 'value', 'checkbox'],
    'type': 'string',
}

DEFS['GraphCellLabel'] = _GraphCellLabel

_GraphData = {
    'title': 'GraphData',
    'description': 'GraphData.',
    'fields': {
        'cells': arr('@GraphCell'),
        'links': arr('@GraphLink'),
    },
}

DEFS['GraphData'] = _GraphData

_GraphLink = {
    'title': 'GraphLink',
    'description': 'GraphLink.',
    'required': ['label', 'source_cell_id', 'target_cell_id'],
    'fields': {
        'label': ref('GraphLinkLabel'),
        'source_cell_id': 'integer',
        'target_cell_id': 'integer',
    },
}

DEFS['GraphLink'] = _GraphLink

_GraphLinkLabel = {
    'title': 'GraphLinkLabel',
    'description': 'GraphLinkLabel.',
    'enum': ['unspecified', 'to_value', 'to_key', 'to_parent', 'to_child'],
    'type': 'string',
}

DEFS['GraphLinkLabel'] = _GraphLinkLabel

_GroupItem = {
    'title': 'GroupItem',
    'description': 'GroupItem.',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'name': t('string', default='group'),
        'label': ref('GroupLabel', default='unspecified'),
    },
}

DEFS['GroupItem'] = _GroupItem

_GroupLabel = {
    'title': 'GroupLabel',
    'description': 'GroupLabel.',
    'enum': ['unspecified', 'list', 'ordered_list', 'chapter', 'section', 'sheet', 'slide', 'form_area', 'key_value_area', 'comment_section', 'inline', 'picture_area'],
    'type': 'string',
}

DEFS['GroupLabel'] = _GroupLabel

_HumanLanguageLabel = {
    'title': 'HumanLanguageLabel',
    'description': 'Two-letter human language primary subtags using BCP-47 values.',
    'enum': ['aa', 'ab', 'ae', 'af', 'ak', 'am', 'an', 'ar', 'as', 'av', 'ay', 'az', 'ba', 'be', 'bg', 'bh', 'bi', 'bm', 'bn', 'bo', 'br', 'bs', 'ca', 'ce', 'ch', 'co', 'cr', 'cs', 'cu', 'cv', 'cy', 'da', 'de', 'dv', 'dz', 'ee', 'el', 'en', 'eo', 'es', 'et', 'eu', 'fa', 'ff', 'fi', 'fj', 'fo', 'fr', 'fy', 'ga', 'gd', 'gl', 'gn', 'gu', 'gv', 'ha', 'he', 'hi', 'ho', 'hr', 'ht', 'hu', 'hy', 'hz', 'ia', 'id', 'ie', 'ig', 'ii', 'ik', 'io', 'is', 'it', 'iu', 'ja', 'jv', 'ka', 'kg', 'ki', 'kj', 'kk', 'kl', 'km', 'kn', 'ko', 'kr', 'ks', 'ku', 'kv', 'kw', 'ky', 'la', 'lb', 'lg', 'li', 'ln', 'lo', 'lt', 'lu', 'lv', 'mg', 'mh', 'mi', 'mk', 'ml', 'mn', 'mr', 'ms', 'mt', 'my', 'na', 'nb', 'nd', 'ne', 'ng', 'nl', 'nn', 'no', 'nr', 'nv', 'ny', 'oc', 'oj', 'om', 'or', 'os', 'pa', 'pi', 'pl', 'ps', 'pt', 'qu', 'rm', 'rn', 'ro', 'ru', 'rw', 'sa', 'sc', 'sd', 'se', 'sg', 'sh', 'si', 'sk', 'sl', 'sm', 'sn', 'so', 'sq', 'sr', 'ss', 'st', 'su', 'sv', 'sw', 'ta', 'te', 'tg', 'th', 'ti', 'tk', 'tl', 'tn', 'to', 'tr', 'ts', 'tt', 'tw', 'ty', 'ug', 'uk', 'ur', 'uz', 've', 'vi', 'vo', 'wa', 'wo', 'xh', 'yi', 'yo', 'za', 'zh', 'zu'],
    'type': 'string',
}

DEFS['HumanLanguageLabel'] = _HumanLanguageLabel

_ImageRef = {
    'title': 'ImageRef',
    'description': 'ImageRef.',
    'required': ['mimetype', 'dpi', 'size', 'uri'],
    'fields': {
        'mimetype': 'string',
        'dpi': 'integer',
        'size': ref('Size'),
        'uri': U('anyurl', 'pathstr'),
    },
}

DEFS['ImageRef'] = _ImageRef

_InlineGroup = {
    'title': 'InlineGroup',
    'description': 'InlineGroup.',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'name': t('string', default='group'),
        'label': const('inline'),
    },
}

DEFS['InlineGroup'] = _InlineGroup

_KeyValueItem = {
    'title': 'KeyValueItem',
    'description': 'KeyValueItem.',
    'additional': False,
    'required': ['self_ref', 'graph'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@FloatingMeta', default=None),
        'label': const('key_value_region'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'captions': arr('@RefItem', default=[]),
        'references': arr('@RefItem', default=[]),
        'footnotes': arr('@RefItem', default=[]),
        'image': opt('@ImageRef', default=None),
        'graph': ref('GraphData'),
    },
}

DEFS['KeyValueItem'] = _KeyValueItem

_KeywordsMetaField = {
    'title': 'KeywordsMetaField',
    'description': 'Container for a list of unique keywords / keyphrases.',
    'additional': True,
    'required': ['values'],
    'fields': {
        'values': arr('string', min_items=1, unique_items=True),
    },
}

DEFS['KeywordsMetaField'] = _KeywordsMetaField

_LanguageMetaField = {
    'title': 'LanguageMetaField',
    'description': 'Detected human language.',
    'additional': True,
    'required': ['code'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'code': ref('HumanLanguageLabel'),
    },
}

DEFS['LanguageMetaField'] = _LanguageMetaField

_ListGroup = {
    'title': 'ListGroup',
    'description': 'ListGroup.',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'name': t('string', default='group'),
        'label': const('list'),
    },
}

DEFS['ListGroup'] = _ListGroup

_ListItem = {
    'title': 'ListItem',
    'description': 'SectionItem.',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('list_item'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
        'enumerated': t('boolean', default=False),
        'marker': t('string', default='-'),
    },
}

DEFS['ListItem'] = _ListItem

_MiscAnnotation = {
    'title': 'MiscAnnotation',
    'description': 'MiscAnnotation.',
    'required': ['content'],
    'fields': {
        'kind': const('misc'),
        'content': t('object', additional=True),
    },
}

DEFS['MiscAnnotation'] = _MiscAnnotation

_MoleculeMetaField = {
    'title': 'MoleculeMetaField',
    'description': 'Molecule metadata field.',
    'additional': True,
    'required': ['smi'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'smi': t('string', desc='The SMILES representation of the molecule.'),
    },
}

DEFS['MoleculeMetaField'] = _MoleculeMetaField

_Orientation = {
    'title': 'Orientation',
    'description': "Counter-clockwise rotation of a table on the page, in degrees.\n\nFollows the convention used by PIL/Pillow's ``Image.rotate``: positive\nangles rotate the table counter-clockwise. ``ROT_0`` / ``ROT_180`` keep\nrows running horizontally on the page; ``ROT_90`` / ``ROT_270`` turn\nrows into vertical stripes.",
    'enum': ['rot_0', 'rot_90', 'rot_180', 'rot_270'],
    'type': 'string',
}

DEFS['Orientation'] = _Orientation

_PageItem = {
    'title': 'PageItem',
    'description': 'PageItem.',
    'required': ['size', 'page_no'],
    'fields': {
        'size': ref('Size'),
        'image': opt('@ImageRef', default=None),
        'page_no': 'integer',
    },
}

DEFS['PageItem'] = _PageItem

_PictureBarChartData = {
    'title': 'PictureBarChartData',
    'description': 'Represents data of a bar chart.\n\nAttributes:\n    kind (Literal["bar_chart_data"]): The type of the chart.\n    x_axis_label (str): The label for the x-axis.\n    y_axis_label (str): The label for the y-axis.\n    bars (list[ChartBar]): A list of bars in the chart.',
    'required': ['title', 'x_axis_label', 'y_axis_label', 'bars'],
    'fields': {
        'kind': const('bar_chart_data'),
        'title': 'string',
        'x_axis_label': 'string',
        'y_axis_label': 'string',
        'bars': arr('@ChartBar'),
    },
}

DEFS['PictureBarChartData'] = _PictureBarChartData

_PictureClassificationClass = {
    'title': 'PictureClassificationClass',
    'description': 'PictureClassificationData.',
    'required': ['class_name', 'confidence'],
    'fields': {
        'class_name': 'string',
        'confidence': 'number',
    },
}

DEFS['PictureClassificationClass'] = _PictureClassificationClass

_PictureClassificationData = {
    'title': 'PictureClassificationData',
    'description': 'PictureClassificationData.',
    'required': ['provenance', 'predicted_classes'],
    'fields': {
        'kind': const('classification'),
        'provenance': 'string',
        'predicted_classes': arr('@PictureClassificationClass'),
    },
}

DEFS['PictureClassificationData'] = _PictureClassificationData

_PictureClassificationMetaField = {
    'title': 'PictureClassificationMetaField',
    'description': 'Picture classification metadata field.',
    'additional': True,
    'fields': {
        'predictions': arr('@PictureClassificationPrediction', min_items=1),
    },
}

DEFS['PictureClassificationMetaField'] = _PictureClassificationMetaField

_PictureClassificationPrediction = {
    'title': 'PictureClassificationPrediction',
    'description': 'Picture classification instance.',
    'additional': True,
    'required': ['class_name'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'class_name': 'string',
    },
}

DEFS['PictureClassificationPrediction'] = _PictureClassificationPrediction

_PictureItem = {
    'title': 'PictureItem',
    'description': 'PictureItem.',
    'additional': False,
    'required': ['self_ref'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@PictureMeta', default=None),
        'label': enum(['picture', 'chart'], default='picture'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'captions': arr('@RefItem', default=[]),
        'references': arr('@RefItem', default=[]),
        'footnotes': arr('@RefItem', default=[]),
        'image': opt('@ImageRef', default=None),
        'annotations': arr(dunion('DescriptionAnnotation', 'MiscAnnotation', 'PictureClassificationData', 'PictureMoleculeData', 'PictureTabularChartData', 'PictureLineChartData', 'PictureBarChartData', 'PictureStackedBarChartData', 'PicturePieChartData', 'PictureScatterChartData'), default=[], deprecated=True),
    },
}

DEFS['PictureItem'] = _PictureItem

_PictureLineChartData = {
    'title': 'PictureLineChartData',
    'description': 'Represents data of a line chart.\n\nAttributes:\n    kind (Literal["line_chart_data"]): The type of the chart.\n    x_axis_label (str): The label for the x-axis.\n    y_axis_label (str): The label for the y-axis.\n    lines (list[ChartLine]): A list of lines in the chart.',
    'required': ['title', 'x_axis_label', 'y_axis_label', 'lines'],
    'fields': {
        'kind': const('line_chart_data'),
        'title': 'string',
        'x_axis_label': 'string',
        'y_axis_label': 'string',
        'lines': arr('@ChartLine'),
    },
}

DEFS['PictureLineChartData'] = _PictureLineChartData

_PictureMeta = {
    'title': 'PictureMeta',
    'description': 'Metadata model for pictures.',
    'additional': True,
    'fields': {
        'summary': opt('@SummaryMetaField', default=None, desc='A condensed natural-language summary of the content rooted at this node.', examples=[{'text': 'A short company/location statement.'}]),
        'language': opt('@LanguageMetaField', default=None, desc='The detected human language of the node content, expressed as a BCP 47 code.', examples=[{'code': 'en'}]),
        'entities': opt('@EntitiesMetaField', default=None, desc='Named entities extracted from the node text (persons, organisations, locations, etc.). Each mention carries the entity text, an optional type label, and an optional character span.', examples=[{'mentions': [{'charspan': [0, 3], 'label': 'ORG', 'text': 'IBM'}]}]),
        'keywords': opt('@KeywordsMetaField', default=None, desc='Salient terms or short keyphrases that characterise the node content. Keywords are more specific than topics and typically correspond to individual words or short multi-word expressions found in or closely related to the text. Values are order-preserving and deduplicated.', examples=[{'values': ['transformer', 'attention mechanism', 'BERT']}]),
        'topics': opt('@TopicsMetaField', default=None, desc="Higher-level subject categories or thematic labels inferred for the node content. Topics are broader than keywords and describe the domain or theme rather than specific terms (e.g., 'machine learning' rather than 'gradient descent'). Values are order-preserving and deduplicated.", examples=[{'values': ['natural language processing', 'computer vision']}]),
        'description': opt('@DescriptionMetaField', default=None),
        'classification': opt('@PictureClassificationMetaField', default=None),
        'molecule': opt('@MoleculeMetaField', default=None),
        'tabular_chart': opt('@TabularChartMetaField', default=None),
        'code': opt('@CodeMetaField', default=None),
    },
}

DEFS['PictureMeta'] = _PictureMeta

_PictureMoleculeData = {
    'title': 'PictureMoleculeData',
    'description': 'PictureMoleculeData.',
    'required': ['smi', 'confidence', 'class_name', 'segmentation', 'provenance'],
    'fields': {
        'kind': const('molecule_data'),
        'smi': 'string',
        'confidence': 'number',
        'class_name': 'string',
        'segmentation': arr(tup('number', 'number')),
        'provenance': 'string',
    },
}

DEFS['PictureMoleculeData'] = _PictureMoleculeData

_PicturePieChartData = {
    'title': 'PicturePieChartData',
    'description': 'Represents data of a pie chart.\n\nAttributes:\n    kind (Literal["pie_chart_data"]): The type of the chart.\n    slices (list[ChartSlice]): A list of slices in the pie chart.',
    'required': ['title', 'slices'],
    'fields': {
        'kind': const('pie_chart_data'),
        'title': 'string',
        'slices': arr('@ChartSlice'),
    },
}

DEFS['PicturePieChartData'] = _PicturePieChartData

_PictureScatterChartData = {
    'title': 'PictureScatterChartData',
    'description': 'Represents data of a scatter chart.\n\nAttributes:\n    kind (Literal["scatter_chart_data"]): The type of the chart.\n    x_axis_label (str): The label for the x-axis.\n    y_axis_label (str): The label for the y-axis.\n    points (list[ChartPoint]): A list of points in the scatter chart.',
    'required': ['title', 'x_axis_label', 'y_axis_label', 'points'],
    'fields': {
        'kind': const('scatter_chart_data'),
        'title': 'string',
        'x_axis_label': 'string',
        'y_axis_label': 'string',
        'points': arr('@ChartPoint'),
    },
}

DEFS['PictureScatterChartData'] = _PictureScatterChartData

_PictureStackedBarChartData = {
    'title': 'PictureStackedBarChartData',
    'description': 'Represents data of a stacked bar chart.\n\nAttributes:\n    kind (Literal["stacked_bar_chart_data"]): The type of the chart.\n    x_axis_label (str): The label for the x-axis.\n    y_axis_label (str): The label for the y-axis.\n    stacked_bars (list[ChartStackedBar]): A list of stacked bars in the chart.',
    'required': ['title', 'x_axis_label', 'y_axis_label', 'stacked_bars'],
    'fields': {
        'kind': const('stacked_bar_chart_data'),
        'title': 'string',
        'x_axis_label': 'string',
        'y_axis_label': 'string',
        'stacked_bars': arr('@ChartStackedBar'),
    },
}

DEFS['PictureStackedBarChartData'] = _PictureStackedBarChartData

_PictureTabularChartData = {
    'title': 'PictureTabularChartData',
    'description': 'Base class for picture chart data.\n\nAttributes:\n    title (str): The title of the chart.\n    chart_data (TableData): Chart data in the table format.',
    'required': ['title', 'chart_data'],
    'fields': {
        'kind': const('tabular_chart_data'),
        'title': 'string',
        'chart_data': ref('TableData'),
    },
}

DEFS['PictureTabularChartData'] = _PictureTabularChartData

_ProvenanceItem = {
    'title': 'ProvenanceItem',
    'description': 'Provenance information for elements extracted from a textual document.\n\nA `ProvenanceItem` object acts as a lightweight pointer back into the original\ndocument for an extracted element. It applies to documents with an explicit\nor implicit layout, such as PDF, HTML, docx, or pptx.',
    'required': ['page_no', 'bbox', 'charspan'],
    'fields': {
        'page_no': t('integer', desc='Page number'),
        'bbox': ref('BoundingBox', desc='Bounding box'),
        'charspan': tup('integer', 'integer', desc='Character span (0-indexed)'),
    },
}

DEFS['ProvenanceItem'] = _ProvenanceItem

_RefItem = {
    'title': 'RefItem',
    'description': 'RefItem.',
    'required': ['$ref'],
    'fields': {
        '$ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
    },
}

DEFS['RefItem'] = _RefItem

_RichTableCell = {
    'title': 'RichTableCell',
    'description': 'RichTableCell.',
    'required': ['start_row_offset_idx', 'end_row_offset_idx', 'start_col_offset_idx', 'end_col_offset_idx', 'text', 'ref'],
    'fields': {
        'bbox': opt('@BoundingBox', default=None),
        'row_span': t('integer', default=1),
        'col_span': t('integer', default=1),
        'start_row_offset_idx': 'integer',
        'end_row_offset_idx': 'integer',
        'start_col_offset_idx': 'integer',
        'end_col_offset_idx': 'integer',
        'text': 'string',
        'column_header': t('boolean', default=False),
        'row_header': t('boolean', default=False),
        'row_section': t('boolean', default=False),
        'fillable': t('boolean', default=False),
        'ref': ref('RefItem'),
    },
}

DEFS['RichTableCell'] = _RichTableCell

_Script = {
    'title': 'Script',
    'description': 'Text script position.',
    'enum': ['baseline', 'sub', 'super'],
    'type': 'string',
}

DEFS['Script'] = _Script

_SectionHeaderItem = {
    'title': 'SectionHeaderItem',
    'description': 'SectionItem.',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('section_header'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
        'level': t('integer', default=1, maximum=100, minimum=1),
    },
}

DEFS['SectionHeaderItem'] = _SectionHeaderItem

_Size = {
    'title': 'Size',
    'description': 'Size.',
    'fields': {
        'width': t('number', default=0.0),
        'height': t('number', default=0.0),
    },
}

DEFS['Size'] = _Size

_SummaryMetaField = {
    'title': 'SummaryMetaField',
    'description': 'Summary data.',
    'additional': True,
    'required': ['text'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'text': 'string',
    },
}

DEFS['SummaryMetaField'] = _SummaryMetaField

_TableCell = {
    'title': 'TableCell',
    'description': 'TableCell.',
    'required': ['start_row_offset_idx', 'end_row_offset_idx', 'start_col_offset_idx', 'end_col_offset_idx', 'text'],
    'fields': {
        'bbox': opt('@BoundingBox', default=None),
        'row_span': t('integer', default=1),
        'col_span': t('integer', default=1),
        'start_row_offset_idx': 'integer',
        'end_row_offset_idx': 'integer',
        'start_col_offset_idx': 'integer',
        'end_col_offset_idx': 'integer',
        'text': 'string',
        'column_header': t('boolean', default=False),
        'row_header': t('boolean', default=False),
        'row_section': t('boolean', default=False),
        'fillable': t('boolean', default=False),
    },
}

DEFS['TableCell'] = _TableCell

_TableData = {
    'title': 'TableData',
    'description': 'BaseTableData.',
    'fields': {
        'table_cells': arr(U('@RichTableCell', '@TableCell'), default=[]),
        'num_rows': t('integer', default=0),
        'num_cols': t('integer', default=0),
        'orientation': ref('Orientation', default='rot_0'),
    },
}

DEFS['TableData'] = _TableData

_TableItem = {
    'title': 'TableItem',
    'description': 'TableItem.',
    'additional': False,
    'required': ['self_ref', 'data'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@FloatingMeta', default=None),
        'label': enum(['document_index', 'table'], default='table'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'captions': arr('@RefItem', default=[]),
        'references': arr('@RefItem', default=[]),
        'footnotes': arr('@RefItem', default=[]),
        'image': opt('@ImageRef', default=None),
        'data': ref('TableData'),
        'annotations': arr(dunion('DescriptionAnnotation', 'MiscAnnotation'), default=[], deprecated=True),
    },
}

DEFS['TableItem'] = _TableItem

_TabularChartMetaField = {
    'title': 'TabularChartMetaField',
    'description': 'Tabular chart metadata field.',
    'additional': True,
    'required': ['chart_data'],
    'fields': {
        'confidence': opt(t('number', maximum=1, minimum=0), default=None, desc='The confidence of the prediction.', examples=[0.9, 0.42]),
        'created_by': opt('string', default=None, desc='The origin of the prediction.', examples=['ibm-granite/granite-docling-258M']),
        'title': opt('string', default=None),
        'chart_data': ref('TableData'),
    },
}

DEFS['TabularChartMetaField'] = _TabularChartMetaField

_TextItem = {
    'title': 'TextItem',
    'description': 'TextItem.',
    'additional': False,
    'required': ['self_ref', 'label', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': enum(['caption', 'checkbox_selected', 'checkbox_unselected', 'footnote', 'page_footer', 'page_header', 'paragraph', 'reference', 'text', 'empty_value', 'field_key', 'field_hint', 'marker', 'handwritten_text']),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
    },
}

DEFS['TextItem'] = _TextItem

_TitleItem = {
    'title': 'TitleItem',
    'description': 'TitleItem.',
    'additional': False,
    'required': ['self_ref', 'orig', 'text'],
    'fields': {
        'self_ref': t('string', pattern='^#(?:/([\\w-]+)(?:/(\\d+))?)?$'),
        'parent': opt('@RefItem', default=None),
        'children': arr('@RefItem', default=[]),
        'content_layer': ref('ContentLayer', default='body'),
        'meta': opt('@BaseMeta', default=None),
        'label': const('title'),
        'prov': arr('@ProvenanceItem', default=[]),
        'source': arr(dunion('TrackSource'), default=[], desc='The provenance of this document item. Currently, it is only used for media track provenance.'),
        'comments': arr('@FineRef', default=[]),
        'orig': 'string',
        'text': 'string',
        'formatting': opt('@Formatting', default=None),
        'hyperlink': opt(U('anyurl', 'pathstr'), default=None),
    },
}

DEFS['TitleItem'] = _TitleItem

_TopicsMetaField = {
    'title': 'TopicsMetaField',
    'description': 'Container for a list of unique topics / subjects.',
    'additional': True,
    'required': ['values'],
    'fields': {
        'values': arr('string', min_items=1, unique_items=True),
    },
}

DEFS['TopicsMetaField'] = _TopicsMetaField

_TrackSource = {
    'title': 'TrackSource',
    'description': 'Source metadata for a cue extracted from a media track.\n\nA `TrackSource` instance identifies a cue in a media track (audio, video, subtitles, screen-recording captions,\netc.). A *cue* here refers to any discrete segment that was pulled out of the original asset, e.g., a subtitle\nblock, an audio clip, or a timed marker in a screen-recording.',
    'required': ['start_time', 'end_time'],
    'fields': {
        'kind': const('track', desc='Identifies this type of source.'),
        'start_time': t('number', desc='Start time offset of the track cue in seconds', examples=[11.0, 6.5, 5370.0]),
        'end_time': t('number', desc='End time offset of the track cue in seconds', examples=[12.0, 8.2, 5370.1]),
        'identifier': opt('string', default=None, desc='An identifier of the cue', examples=['test', '123', 'b72d946']),
        'voice': opt('string', default=None, desc='The name of the voice in this track (the speaker)', examples=['John', 'Mary', 'Speaker 1']),
    },
}

DEFS['TrackSource'] = _TrackSource

ROOT = {
    'title': 'DoclingDocument',
    'description': 'DoclingDocument.',
    'required': ['name'],
    'fields': {
        'schema_name': const('DoclingDocument'),
        'version': t('string', default='1.10.0', pattern='^(?P<major>0|[1-9]\\d*)\\.(?P<minor>0|[1-9]\\d*)\\.(?P<patch>0|[1-9]\\d*)(?:-(?P<prerelease>(?:0|[1-9]\\d*|\\d*[a-zA-Z-][0-9a-zA-Z-]*)(?:\\.(?:0|[1-9]\\d*|\\d*[a-zA-Z-][0-9a-zA-Z-]*))*))?(?:\\+(?P<buildmetadata>[0-9a-zA-Z-]+(?:\\.[0-9a-zA-Z-]+)*))?$'),
        'name': 'string',
        'origin': opt('@DocumentOrigin', default=None),
        'furniture': ref('GroupItem', default={'self_ref': '#/furniture', 'parent': None, 'children': [], 'content_layer': 'furniture', 'meta': None, 'name': '_root_', 'label': 'unspecified'}, deprecated=True),
        'body': ref('GroupItem', default={'self_ref': '#/body', 'parent': None, 'children': [], 'content_layer': 'body', 'meta': None, 'name': '_root_', 'label': 'unspecified'}),
        'groups': arr(U('@ListGroup', '@InlineGroup', '@GroupItem'), default=[]),
        'texts': arr(U('@TitleItem', '@SectionHeaderItem', '@ListItem', '@CodeItem', '@FormulaItem', '@FieldHeadingItem', '@FieldValueItem', '@TextItem'), default=[]),
        'pictures': arr('@PictureItem', default=[]),
        'tables': arr('@TableItem', default=[]),
        'key_value_items': arr('@KeyValueItem', default=[]),
        'form_items': arr('@FormItem', default=[]),
        'field_regions': arr('@FieldRegionItem', default=[]),
        'field_items': arr('@FieldItem', default=[]),
        'pages': mapof('@PageItem', default={}),
    },
}

