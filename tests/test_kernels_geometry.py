import numpy as np

from doctr_spark.kernels.geometry import (
    bbox_to_polygon,
    box_iou,
    estimate_page_angle,
    order_points,
    rotate_boxes,
)


def test_bbox_polygon_roundtrip():
    box = np.array([0.1, 0.2, 0.4, 0.3])
    poly = bbox_to_polygon(box)
    assert poly.shape == (4, 2)
    assert np.allclose(poly, [[0.1, 0.2], [0.4, 0.2], [0.4, 0.3], [0.1, 0.3]])
    assert np.allclose(np.concatenate([poly.min(axis=0), poly.max(axis=0)]), box)


def test_order_points():
    pts = np.array([[5.0, 5.0], [1.0, 5.0], [1.0, 1.0], [5.0, 1.0]])
    ordered = order_points(pts)
    assert np.allclose(ordered, [[1, 1], [5, 1], [5, 5], [1, 5]])


def test_rotate_boxes_noop_below_min_angle():
    boxes = np.array([[0.1, 0.1, 0.3, 0.2]])
    assert rotate_boxes(boxes, 0.5, (100, 100)) is boxes


def test_rotate_boxes_90_square_page():
    boxes = np.array([[0.4, 0.4, 0.6, 0.6]])  # centered box: invariant at 90
    out = rotate_boxes(boxes, 90.0, (100, 100))
    assert out.shape == (1, 4, 2)
    enclosing = np.concatenate([out[0].min(axis=0), out[0].max(axis=0)])
    assert np.allclose(enclosing, [0.4, 0.4, 0.6, 0.6], atol=1e-9)


def test_estimate_page_angle():
    # top edge rising left->right by 45 degrees (y down)
    polys = np.array([[[0.0, 1.0], [1.0, 0.0], [1.5, 0.5], [0.5, 1.5]]])
    assert abs(estimate_page_angle(polys) - 45.0) < 1e-9
    assert estimate_page_angle(np.zeros((0, 4, 2))) == 0.0


def test_box_iou_closed_form():
    a = np.array([[0.0, 0.0, 1.0, 1.0]])
    b = np.array([[0.5, 0.0, 1.5, 1.0], [2.0, 2.0, 3.0, 3.0]])
    iou = box_iou(a, b)
    assert np.allclose(iou, [[0.5 / 1.5, 0.0]])
    assert box_iou(np.zeros((0, 4)), b).shape == (0, 2)

