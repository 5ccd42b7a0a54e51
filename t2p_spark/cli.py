"""Single-file convenience CLI — parity with the reference's console
command (/root/reference/textract2page/cli.py:9-39), argparse-based
(click is not a dependency of this repo):

    python -m t2p_spark.cli AWS_JSON_FILE IMAGE_FILE \
        [--image-width W --image-height H] [-O out.xml]

Converts ONE Textract JSON response to PAGE-XML without Spark — the same
conversion model the distributed pipeline uses (t2p_spark.convert +
t2p_spark.render_xml), so single-file and cluster output are identical.

Like the reference's ``convert_file_without_image``, pixel dimensions can
be passed explicitly to avoid opening the image; otherwise they are read
from the image's JPEG/TIFF/PNG header (``workspace.image_dims``, no PIL).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        prog="t2p-convert",
        description="Convert an AWS Textract JSON file to a PAGE XML file.",
    )
    ap.add_argument("aws_json_file")
    ap.add_argument("image_file",
                    help="referenced under Page/@imageFilename; only opened "
                         "when --image-width/--image-height are not given")
    ap.add_argument("--image-width", type=int, default=None)
    ap.add_argument("--image-height", type=int, default=None)
    ap.add_argument("-O", "--output-file", default="-",
                    help='output filename (or "-" for standard output)')
    args = ap.parse_args(argv)

    from t2p_spark.render_xml import render_page_xml
    from t2p_spark.workspace import image_dims

    if args.image_width and args.image_height:
        width, height = args.image_width, args.image_height
    else:
        try:
            width, height = image_dims(args.image_file)
        except ValueError as exc:
            raise SystemExit(
                f"{exc}; pass --image-width/--image-height") from exc

    with open(args.aws_json_file, encoding="utf-8") as f:
        aws = json.load(f)
    xml = render_page_xml(aws, width, height, args.image_file)

    if args.output_file == "-":
        sys.stdout.write(xml)
    else:
        with open(args.output_file, "w", encoding="utf-8") as out:
            out.write(xml)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
